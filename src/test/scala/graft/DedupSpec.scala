package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  test("exactGroups collapses whitespace/case variants; exactDedup keeps min id") {
    val df = Seq(
      (1L, "Hello  World"),
      (2L, "hello world "),
      (3L, "something else")).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "doc_id", "text")
    assert(groups.count() === 2)
    assert(groups.filter($"n_docs" === 2).select("canonical_id").as[Long].head() === 1L)
    assert(Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("duplicatedRunExtents: planted cross-doc passage merges; within-doc repeats do not mark") {
    // docs 1 and 2 share a 6-token passage; with n=4 the 3 marked start
    // positions merge into ONE maximal extent of 6 tokens. doc 3 repeats
    // its own 4-token run twice but shares it with NO other doc -> silent.
    val df = Seq(
      (1L, "p q r s t u junk1a junk1b junk1c"),
      (2L, "junk2a junk2b p q r s t u junk2c"),
      (3L, "x y z w mid x y z w")).toDF("doc_id", "text")
    val got = Dedup.duplicatedRunExtents(df, "doc_id", "text", runN = 4)
      .select("doc_id", "start_tok", "end_tok", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 0L, 5L, 6L), (2L, 2L, 7L, 6L)))
  }

  test("duplicatedRunExtents: differential vs an exact in-memory reference on the corpus") {
    val docs = testdata("sf0.001", "documents").select("doc_id", "text")
    val n = 6
    val got = Dedup.duplicatedRunExtents(docs, "doc_id", "text", n)
      .select("doc_id", "start_tok", "end_tok", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    // exact reference: gram-string -> doc set, mark, merge islands
    val local = docs.filter($"text".isNotNull)
      .as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty) }
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    local.foreach { case (id, ts) =>
      (0 to ts.length - n).foreach { p =>
        val g = ts.slice(p, p + n).mkString(" ")
        gramDocs(g) = gramDocs.getOrElse(g, Set.empty) + id
      }
    }
    val expected = local.flatMap { case (id, ts) =>
      val marked = (0 to ts.length - n)
        .filter(p => gramDocs(ts.slice(p, p + n).mkString(" ")).size >= 2)
      marked.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
        case (runs, p) => (p, p) :: runs
      }.map { case (s, e) =>
        (id, s.toLong, (e + n - 1).toLong, (e - s + n).toLong) }
    }.toSet
    assert(got.nonEmpty, "fixture must exercise the operator")
    assert(got === expected)
  }

  test("removeDuplicatedRuns keep_one: the min-id doc keeps the planted passage, others cut") {
    val df = Seq(
      (5L, "p q r s t u tail5a tail5b tail5c"),
      (2L, "head2a head2b p q r s t u tail2"),
      (9L, "lead9 p q r s t u"),
      (7L, "solo doc with nothing shared here at all")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedRuns(df, "doc_id", "text", runN = 4,
        policy = "keep_one")
      .select("doc_id", "text", "n_tokens_kept", "n_tokens_removed")
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    // doc 2 is the min id holding every duplicated 4-gram -> keeps all
    assert(out(2L) === ((2L, "head2a head2b p q r s t u tail2", 9, 0)))
    assert(out(5L) === ((5L, "tail5a tail5b tail5c", 3, 6)))
    assert(out(9L) === ((9L, "lead9", 1, 6)))
    assert(out(7L) === ((7L, "solo doc with nothing shared here at all", 8, 0)))
  }

  test("removeDuplicatedRuns keep_one is per-gram: a min-id doc still cuts under a foreign-min gram") {
    // gram A = "a b c d" lives in docs {1, 3} (min 1); gram B = "b c d e"
    // lives in docs {2, 3} (min 2). In doc 3 BOTH grams mark for cutting
    // (doc 3 is min of neither), so its whole span goes; doc 1 keeps its
    // copy of A, doc 2 keeps its copy of B.
    val df = Seq(
      (1L, "a b c d x1 y1 z1 w1"),
      (2L, "b c d e x2 y2 z2 w2"),
      (3L, "a b c d e x3 y3 z3")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedRuns(df, "doc_id", "text", runN = 4,
        policy = "keep_one")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out(1L) === "a b c d x1 y1 z1 w1")
    assert(out(2L) === "b c d e x2 y2 z2 w2")
    assert(out(3L) === "x3 y3 z3")
  }

  test("removeDuplicatedRuns drop_all ≡ removeDuplicateSpans(minDocs=2) on the corpus") {
    val docs = testdata("sf0.001", "documents").select("doc_id", "text")
    val viaRuns = Dedup.removeDuplicatedRuns(docs, "doc_id", "text",
        runN = 5, policy = "drop_all")
      .select("doc_id", "text", "n_tokens_kept", "n_tokens_removed")
      .as[(Long, String, Int, Int)].collect().toSet
    val viaSpans = Dedup.removeDuplicateSpans(docs, "doc_id", "text",
        spanN = 5, minDocs = 2)
      .select("doc_id", "text", "n_tokens_kept", "n_tokens_removed")
      .as[(Long, String, Int, Int)].collect().toSet
    assert(viaRuns.nonEmpty)
    assert(viaRuns === viaSpans,
      "drop_all must be the removeDuplicateSpans(minDocs=2) semantics exactly")
  }

  test("removeDuplicatedRuns keep_one survivor corpus: every duplicated extent survives exactly once") {
    val docs = testdata("sf0.001", "documents").select("doc_id", "text")
    val n = 6
    val out = Dedup.removeDuplicatedRuns(docs, "doc_id", "text", runN = n,
      policy = "keep_one")
    // exact reference on the collected corpus
    val local = docs.filter($"text".isNotNull)
      .as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty) }
    val gramMin = scala.collection.mutable.Map.empty[String, Long]
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    local.foreach { case (id, ts) =>
      (0 to ts.length - n).foreach { p =>
        val g = ts.slice(p, p + n).mkString(" ")
        gramMin(g) = gramMin.get(g).fold(id)(math.min(_, id))
        gramDocs(g) = gramDocs.getOrElse(g, Set.empty) + id
      }
    }
    val expected = local.map { case (id, ts) =>
      val cut = Array.fill(ts.length)(false)
      (0 to ts.length - n).foreach { p =>
        val g = ts.slice(p, p + n).mkString(" ")
        if (gramDocs(g).size >= 2 && gramMin(g) != id)
          (p until p + n).foreach(cut(_) = true)
      }
      val kept = ts.indices.filterNot(cut).map(ts)
      (id, kept.mkString(" "), kept.size, ts.length - kept.size)
    }.toSet
    val got = out.select("doc_id", "text", "n_tokens_kept", "n_tokens_removed")
      .as[(Long, String, Int, Int)].collect().toSet
    assert(got === expected)
  }

  test("shingleRows matches the array-based shingles definition") {
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val rows = Dedup.shingleRows(df, "doc_id", "text", 3)
      .select("shingle").as[String].collect().toSeq
    assert(rows === Seq("a b c", "b c d", "c d e"))
    // < n tokens -> no rows
    assert(Dedup.shingleRows(Seq((1L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text", 3).count() === 0)
  }

  test("boilerplateNgrams ranks grams by doc frequency, hash tiebreak, k cut") {
    // "the quick brown fox jumps" appears in docs 1-3; each doc also has a
    // unique 5-gram tail (df=1). Within-doc repetition must NOT inflate df.
    val df = Seq(
      (1L, "the quick brown fox jumps alpha beta gamma delta one"),
      (2L, "the quick brown fox jumps alpha beta gamma delta two"),
      (3L, "the quick brown fox jumps the quick brown fox jumps"),
      (4L, "short doc")).toDF("doc_id", "text")
    val top = Dedup.boilerplateNgrams(df, "doc_id", "text", shingleN = 5, k = 3)
      .orderBy($"rank").collect()
    assert(top.length === 3)
    assert(top(0).getAs[String]("gram") === "the quick brown fox jumps")
    assert(top(0).getAs[Long]("ndocs") === 3L)
    assert(top(0).getAs[Int]("rank") === 1)
    // docs 1+2 share four more grams (df=2); the k cut keeps the two with
    // the smallest 60-bit md5 hashes — compute the expectation directly
    val hashOf = (g: String) => {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 15), 16)
    }
    val df2grams = Seq("quick brown fox jumps alpha", "brown fox jumps alpha beta",
      "fox jumps alpha beta gamma", "jumps alpha beta gamma delta")
    val expected = df2grams.sortBy(hashOf).take(2)
    val rest = Seq(top(1), top(2))
    assert(rest.forall(_.getAs[Long]("ndocs") === 2L))
    assert(rest.map(_.getAs[String]("gram")) === expected)
  }

  test("minhash-LSH finds exactly the brute-force near-dup pairs on real docs") {
    val docs = testdata("sf0.001", "documents")
    val lsh = Dedup.nearDupPairsMinhash(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 1, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairsExact(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH must not invent pairs (verification step)")
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall too low: ${exact -- lsh}")
  }

  test("signature-estimated minhash pairs: agreement fraction, quantized to eighths") {
    // exact dups estimate 1.0 (all 8 components agree); disjoint docs never pair
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different text about spark catalyst optimizer internals"),
      (4L, "completely different text about spark catalyst optimizer internals"),
      (5L, "unrelated third subject entirely with no overlap whatsoever here")
    ).toDF("doc_id", "text")
    val small = Dedup.nearDupPairsMinhashEst(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 1, threshold = 0.75)
      .as[(Long, Long, Double)].collect().toSet
    assert(small === Set((1L, 2L, 1.0), (3L, 4L, 1.0)))
    // real corpus: every estimate is a multiple of 1/8 in [threshold, 1],
    // and the estimated pair set at 0.75 covers the exact-verified 0.8 set
    // minus at most the quantization band (estimator never misses a pair
    // whose candidates banding surfaced, since agreement >= 1 band match)
    val real = testdata("sf0.001", "documents")
    val est = Dedup.nearDupPairsMinhashEst(real, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 1, threshold = 0.75)
      .as[(Long, Long, Double)].collect()
    assert(est.nonEmpty, "fixture should contain planted near-dups")
    est.foreach { case (_, _, j) =>
      assert(j >= 0.75 && j <= 1.0 && j * 8 == math.rint(j * 8), s"not quantized: $j")
    }
  }

  test("cappedBucketPairs: hot buckets degrade to k-representative stars") {
    // one bucket of 5 members with maxBucket=3 -> star pairs only
    val b = Seq(1L, 2L, 3L, 4L, 5L).map(i => ("x", i)).toDF("__bucket", "id")
    def pairs(k: Int) = graft.operators.Dedup
      .cappedBucketPairs(b, Seq("__bucket"), "id", Nil, maxBucket = 3, hotBucketReps = k)
      .as[(Long, Long)].collect().toSet
    // k=1: members pair with the min id only
    assert(pairs(1) === Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
    // k=2: both reps pair with everyone above them (rep-rep pair included)
    assert(pairs(2) === Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (2L, 3L), (2L, 4L), (2L, 5L)))
    // under the cap: all pairs
    val small = Seq(1L, 2L, 3L).map(i => ("x", i)).toDF("__bucket", "id")
    val all = graft.operators.Dedup
      .cappedBucketPairs(small, Seq("__bucket"), "id", Nil, maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    assert(all === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("minhash staging is pluggable: Parquet stager matches LocalCheckpoint") {
    val docs = testdata("sf0.001", "documents").limit(200)
    def pairs(stager: graft.operators.Stager) = graft.operators.Stager.using(stager) {
      Dedup.nearDupPairsMinhash(docs, "doc_id", "text",
          shingleN = 3, numHashes = 8, rowsPerBand = 1, threshold = 0.8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage_wh").toString
    val graph = new graft.core.TableGraph(tmp)
    val viaParquet = pairs(graft.operators.Stager.Parquet(graph))
    val viaCheckpoint = pairs(graft.operators.Stager.LocalCheckpoint)
    assert(viaParquet === viaCheckpoint)
    // the durable mode really staged through the warehouse
    assert(new java.io.File(tmp).listFiles().exists(_.getName.startsWith("minhash_sig_")))
    assert(new java.io.File(tmp).listFiles().exists(_.getName.startsWith("minhash_cands_")))
    // staged intermediates are reclaimable: role=stage nodes only
    graph.addTable("keep_me", docs.select("doc_id"))
    graph.dropStages()
    assert(!new java.io.File(tmp).listFiles().exists(_.getName.startsWith("minhash_")))
    assert(graph.getNode("keep_me").isDefined)
  }

  test("removeDuplicateSpans strikes cross-doc token runs, preserves the rest") {
    val docs = Seq(
      (1L, "alpha beta gamma delta unique one"),
      (2L, "x alpha beta gamma delta y"),
      (3L, "totally different text here now")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", spanN = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    // dup 3-grams: "alpha beta gamma" + "beta gamma delta" (docs 1,2)
    assert(out(1L) === (("unique one", 2, 4)))
    assert(out(2L) === (("x y", 2, 4)))
    assert(out(3L) === (("totally different text here now", 5, 0)))
  }

  test("removeDuplicateSpans: within-doc repeats don't count toward minDocs; short docs pass") {
    val docs = Seq(
      (1L, "p q r p q r"),   // "p q r" twice, but in ONE doc only
      (2L, "a b"),           // shorter than spanN
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", spanN = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) === (("p q r p q r", 6, 0)))
    assert(out(2L) === (("a b", 2, 0)))
    assert(out(3L) === (("", 0, 0)))
    intercept[IllegalArgumentException] {
      Dedup.removeDuplicateSpans(docs, "doc_id", "text", spanN = 3, minDocs = 1)
    }
  }

  test("removeDuplicateSpans is case-sensitive (exact substrings) and keeps other columns") {
    val docs = Seq(
      (1L, "en", "Alpha Beta Gamma Delta tail"),
      (2L, "fr", "alpha beta gamma delta tail2")
    ).toDF("doc_id", "lang", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", spanN = 3)
    // differing case -> no shared spans -> nothing struck
    assert(out.filter($"n_tokens_removed" =!= 0).count() === 0)
    assert(out.columns.toSet ===
      Set("doc_id", "lang", "text", "n_tokens_kept", "n_tokens_removed"))
  }

  test("simhash: identical docs collide; near-identical docs are close") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely unrelated text about spark physical plans and shuffles")
    ).toDF("doc_id", "text")
    val sig = Dedup.simhash64(df, "doc_id", "text")
      .orderBy("doc_id").select("simhash").as[String].collect()
    assert(sig.forall(_.length === 64))
    assert(sig(0) === sig(1))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(sig(0), sig(2)) <= 12)
    assert(ham(sig(0), sig(3)) > 12)
    val pairs = Dedup.nearDupPairsSimhash(df, "doc_id", "text", maxHamming = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("LSH-bucketed embedding near-dup finds the same pairs as brute force") {
    val df = Seq(
      (1L, Seq(1.0f, 0.02f, 0.01f, 0.0f)),
      (2L, Seq(0.99f, 0.03f, 0.0f, 0.01f)),   // near-dup of 1
      (3L, Seq(0.0f, 1.0f, 0.02f, 0.0f)),
      (4L, Seq(0.01f, 0.98f, 0.0f, 0.03f)),   // near-dup of 3
      (5L, Seq(0.5f, 0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = pairs(Dedup.nearDupPairsEmbedding(df, "vec_id", "embedding", 0.99))
    val lsh = pairs(Dedup.nearDupPairsEmbeddingLsh(df, "vec_id", "embedding", 0.99, nBits = 4))
    assert(exact === Set((1L, 2L), (3L, 4L)))
    assert(lsh.subsetOf(exact))
    assert(lsh.nonEmpty, "near-identical vectors should share their sign bucket")
  }

  test("embedding near-dup pairs by cosine threshold") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.999f, 0.01f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.nearDupPairsEmbedding(df, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("prefix-filtered Jaccard join equals brute force on real docs — values included") {
    val docs = testdata("sf0.001", "documents")
    def res(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b", "jaccard_sim").as[(Long, Long, Double)].collect().toSet
    val exact = res(Dedup.jaccardPairsExact(docs, "doc_id", "text", 3, 0.8))
    val prefix = res(Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.8))
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(prefix === exact, "prefix filtering is EXACT: identical pair set and values")
  }

  test("prefix join: no false negatives across thresholds, incl. the float-ceil trap") {
    // size-5 shingle sets at t=0.8: binary64 ceil(0.8*5) = 5 would shorten
    // the prefix to 0 tokens and silently drop every pair — the integer-
    // micros prefix length must keep them. Deterministic synthetic corpus:
    // doc pairs sharing most of their tokens at varied set sizes.
    val rnd = new scala.util.Random(42)
    val words = (0 until 40).map(i => s"w$i")
    val docs = (0 until 30).flatMap { i =>
      val n = 5 + rnd.nextInt(10)
      val base = rnd.shuffle(words).take(n + 2)
      val a = base.mkString(" ")
      // near-dup: drop the last token (high but <1 Jaccard at small sizes)
      val b = base.dropRight(1).mkString(" ")
      Seq((i * 2L, a), (i * 2L + 1L, b))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8, 0.9)) {
      val exact = Dedup.jaccardPairsExact(docs, "doc_id", "text", 3, t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val prefix = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(prefix === exact, s"threshold $t: prefix ${prefix.size} vs exact ${exact.size}")
      assert(exact.nonEmpty, s"threshold $t produced an empty differential")
    }
  }

  test("containment join equals brute force on real docs; catches subsets Jaccard misses") {
    val docs = testdata("sf0.001", "documents")
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val brute = sets.select($"doc_id".as("id_a"), $"__shingles".as("__sa"))
      .crossJoin(sets.select($"doc_id".as("id_b"), $"__shingles".as("__sb")))
      .filter($"id_a" =!= $"id_b")
      .withColumn("containment",
        size(array_intersect($"__sa", $"__sb")).cast("double") / size($"__sa").cast("double"))
      .filter($"containment" >= 0.8)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup.containmentPairsPrefix(docs, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty, "fixture should contain containment pairs")
    assert(prefix === brute, "containment prefix filter is EXACT")

    // direction: a short doc inside a big template page has containment 1
    // one way only, and a Jaccard too low for the symmetric join to see
    val sub = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon " +
        (1 to 30).map(i => s"boiler$i plate$i chrome$i").mkString(" "))
    ).toDF("doc_id", "text")
    val directed = Dedup.containmentPairsPrefix(sub, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(directed === Set((1L, 2L)), s"got $directed")
    assert(Dedup.jaccardPairsPrefix(sub, "doc_id", "text", 3, 0.9).count() === 0,
      "Jaccard must NOT see the subset pair — that's the whole point of containment")
  }

  test("preSets frames with the wrong shape are rejected loudly (r16 advice)") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    val good = Dedup.prefixShingleSets(docs, "doc_id", "text", 3)
    // the genuine prefixShingleSets frame passes and matches the no-preSets run
    val withPre = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.3,
      preSets = Some(good)).collect().toSet
    val without = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.3)
      .collect().toSet
    assert(withPre === without)
    // missing __sz
    intercept[IllegalArgumentException] {
      Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.3,
        preSets = Some(good.drop("__sz")))
    }
    // wrong id column name
    intercept[IllegalArgumentException] {
      Dedup.containmentPairsPrefix(docs, "doc_id", "text", 3, 0.3,
        preSets = Some(good.withColumnRenamed("doc_id", "id")))
    }
    // wrong __sz type (int instead of long)
    intercept[IllegalArgumentException] {
      Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.3,
        preSets = Some(good.withColumn("__sz", col("__sz").cast("int"))))
    }
    // wrong element type for __shingles
    intercept[IllegalArgumentException] {
      Dedup.containmentPairsPrefix(docs, "doc_id", "text", 3, 0.3,
        preSets = Some(good.withColumn("__shingles",
          expr("transform(__shingles, x -> length(x))"))))
    }
  }

  test("containment maxDf cuts template-hot shingles and switches to the filtered-space contract") {
    val docs = testdata("sf0.001", "documents")
    // a cut above every df is a no-op: bit-identical to the exact default
    val n = docs.count()
    val base = Dedup.containmentPairsPrefix(docs, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val noop = Dedup.containmentPairsPrefix(docs, "doc_id", "text", 3, 0.8,
        maxDf = Some(n))
      .as[(Long, Long, Double)].collect().toSet
    assert(noop === base)

    // templated fixture: every doc shares one boilerplate sentence; the
    // distinctive remainders are disjoint. Full-space containment pairs
    // the template-dominated docs; the df cut removes the template
    // shingles, so only genuinely-contained DISTINCTIVE content pairs.
    val boiler = "all rights reserved contact us about cookies"
    val tmpl = (1 to 6).map(i => (i.toLong, s"$boiler unique$i content$i body$i")) :+
      (7L, s"$boiler unique1 content1 body1 extra tail words here now")
    val df = tmpl.toDF("doc_id", "text")
    val full = Dedup.containmentPairsPrefix(df, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // template shingles dominate short docs: spurious cross-template pairs
    assert(full.exists { case (a, b) => a != 1L && b != 7L && a != 7L },
      s"full space should pair template-dominated docs, got $full")
    val cut = Dedup.containmentPairsPrefix(df, "doc_id", "text", 3, 0.5,
        maxDf = Some(3L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // with the template gone, only doc1's distinctive shingles sit inside
    // doc7's (and doc7 is too big to be contained in doc1)
    assert(cut === Set((1L, 7L)), s"got $cut")
  }

  test("edit-distance join equals brute force on real docs — distances included") {
    val keys = testdata("sf0.001", "documents")
      .filter($"text".isNotNull)
      .select($"doc_id", substring($"text", 1, 16).as("k"))
    def brute(d: Int) = keys.select($"doc_id".as("id_a"), $"k".as("ka"))
      .crossJoin(keys.select($"doc_id".as("id_b"), $"k".as("kb")))
      .filter($"id_a" < $"id_b" && levenshtein($"ka", $"kb") <= d)
      .withColumn("edit_dist", levenshtein($"ka", $"kb").cast("long"))
      .select("id_a", "id_b", "edit_dist")
      .as[(Long, Long, Long)].collect().toSet
    for (d <- Seq(1, 2, 3)) {
      val fast = Dedup.editDistancePairs(keys, "doc_id", "k", d)
        .as[(Long, Long, Long)].collect().toSet
      val exact = brute(d)
      assert(fast === exact, s"d=$d: fast ${fast.size} vs brute ${exact.size}")
      if (d >= 2) assert(exact.nonEmpty, s"d=$d differential is empty — fixture too clean")
    }
  }

  test("edit-distance join: short strings below the segment path are exact too") {
    // d=2: the segment path starts at len 6. "ab" vs "cd" is ed 2 with no
    // shared substring at all — only the short-block path can find it.
    val df = Seq(
      (1L, "ab"), (2L, "cd"), (3L, "abcd"), (4L, "abxd"),
      (5L, "a"), (6L, ""), (7L, "abcdefgh"), (8L, "abcdefxx"),
      (9L, "zzzzzzzz")).toDF("doc_id", "k")
    val fast = Dedup.editDistancePairs(df, "doc_id", "k", 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = df.select($"doc_id".as("id_a"), $"k".as("ka"))
      .crossJoin(df.select($"doc_id".as("id_b"), $"k".as("kb")))
      .filter($"id_a" < $"id_b" && levenshtein($"ka", $"kb") <= 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.contains((1L, 2L)), "sanity: the disjoint-gram pair is in range")
    assert(fast === brute, s"short-path differential: fast $fast vs brute $brute")
  }

  test("incremental index dedup equals the self-join restricted to cross pairs") {
    val docs = testdata("sf0.001", "documents")
    val newDf = docs.filter($"doc_id" % 5 === 0)
    val idxDf = docs.filter($"doc_id" % 5 =!= 0)
    val inc = Dedup.nearDupPairsAgainstIndex(newDf, idxDf, "doc_id", "text")
      .select("new_id", "index_id", "jaccard_sim")
      .as[(Long, Long, Double)].collect().toSet
    val self = Dedup.nearDupPairsMinhash(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b, j) => if (a % 5 == 0) (a, b, j) else (b, a, j) }.toSet
    assert(self.nonEmpty, "fixture should contain cross-split near-dups")
    assert(inc === self)

    // passing pre-built index signatures skips recompute without changing
    // a single row — the persisted-signature operating mode
    val sigs = Dedup.minhashSignature(idxDf, "doc_id", "text", 3, 8)
    val withSigs = Dedup.nearDupPairsAgainstIndex(newDf, idxDf, "doc_id", "text",
        indexSignatures = Some(sigs))
      .as[(Long, Long, Double)].collect().toSet
    assert(withSigs === inc)
  }

  test("edit-distance join plans no cartesian product") {
    val keys = testdata("sf0.001", "documents")
      .select($"doc_id", substring($"text", 1, 16).as("k"))
    val plan = Dedup.editDistancePairs(keys, "doc_id", "k", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "candidates must come from the segment/length equi-joins, not a cross join")
  }

  test("prefix join plans no cartesian product — scale contract of the exact path") {
    val docs = testdata("sf0.001", "documents")
    val plan = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "the whole point over jaccardPairsExact is the equi-join on prefix shingles")
  }

  test("sortedNeighborhoodPairs: in-window pairs verified exactly, distant near-dups missed") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"), // near-dup of 1, same prefix
      (5L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (9L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, "zzz totally different content here now"),
      (4L, "short"), // < 3 tokens: occupies a sort slot, can never pair
      (7L, "zz alpha beta gamma delta epsilon zeta")) // TRUE near-dup of 1 but sort-distant
      .toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        windowSize = 4, shingleN = 3, threshold = 0.5, keyLen = 12)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // sort order: 1,2,5,9 (share "alpha beta g"), 4 ("short"), 7 ("zz
    // alpha beta"), 3 ("zzz totally "); window 4 pairs each doc with its
    // 3 successors — so 7 lands in range of 5 and 9 (distances 3 and 2)
    // but NOT of 1 (distance 5), and the shingle-less 4 pairs nothing
    assert(got.map(r => (r._1, r._2)) ===
      Seq((1L, 2L), (1L, 5L), (1L, 9L), (2L, 5L), (2L, 9L),
        (5L, 7L), (5L, 9L), (9L, 7L)))
    val j = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(j((1L, 5L)) === 1.0 && j((5L, 9L)) === 1.0)
    assert(j((1L, 2L)) === 0.6) // 3 shared of 5 distinct shingles
    assert(j((5L, 7L)) === 0.8) // 4 shared of 5 distinct shingles
    // doc 7 is a genuine near-dup of 1 (jaccard 0.8) but sorts 5 slots
    // away — the SNM window trade-off this spec documents
    val exact = Dedup.jaccardPairsExact(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val gotNorm = got.map(r => (math.min(r._1, r._2), math.max(r._1, r._2))).toSet
    assert(exact.contains((1L, 7L)) && !gotNorm.contains((1L, 7L)))
    // and every SNM pair is a true pair of the exhaustive reference
    // (SNM emits id_a as the earlier SORT position, so normalize first)
    assert(gotNorm.subsetOf(exact))
  }

  // ----------------------------------------------------- boundaryStitchPairs

  test("boundaryStitchPairs: suffix==prefix pairs found; short/null docs drop; no self pairs") {
    val df = Seq(
      (1L, "AAAA middle one BOUND"),   // ends with BOUND (5)
      (2L, "BOUND continues here"),    // starts with BOUND
      (3L, "BOUND also starts"),       // second continuation candidate
      (4L, "unrelated text"),
      (5L, "tiny"),                    // < boundaryLen
      (6L, null.asInstanceOf[String])).toDF("id", "text")
    val got = Dedup.boundaryStitchPairs(df, "id", "text", boundaryLen = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (1L, 3L)))
  }

  test("boundaryStitchPairs: reassembled halves of a real corpus stitch back to their partner") {
    import org.apache.spark.sql.functions._
    val docs = testdata("sf0.001", "documents")
      .filter(col("text").isNotNull && length(col("text")) >= 60)
    val parts = docs.select((col("doc_id") * 2).as("id"),
        expr("substring(text, 1, length(text) div 2 + 20)").as("t"))
      .unionAll(docs.select((col("doc_id") * 2 + 1).as("id"),
        expr("substring(text, length(text) div 2 - 19)").as("t")))
    val pairs = Dedup.boundaryStitchPairs(parts, "id", "t", boundaryLen = 40)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = docs.select("doc_id").as[Long].collect()
      .map(d => (d * 2, d * 2 + 1)).toSet
    assert(expected.subsetOf(pairs),
      s"every split doc must pair with its own second half; missing ${expected -- pairs}")
  }

  // --------------------------------------------------------- sharedChunkPairs

  test("sharedChunkPairs: a shared passage pairs two otherwise-different docs; strangers don't pair") {
    // aperiodic passage: a repeating string can legitimately produce zero
    // in-passage boundaries (the window hash cycles with the period)
    val passage = (1 to 60).map(i => s"syndicated$i passage$i").mkString(" ")
    val df = Seq(
      (1L, "unique intro alpha beta gamma. " + passage + " unique outro one."),
      (2L, "totally different opening words here! " + passage + " and another ending."),
      (3L, "no overlap with anything else at all; " +
        "completely distinct content through the whole document body " * 6))
      .toDF("id", "text")
    val got = Dedup.sharedChunkPairs(df, "id", "text", minShared = 1)
      .as[(Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set((1L, 2L)))
    assert(got.head._3 >= 1L)
  }

  test("sharedChunkPairs: minShared filters weak pairs; the hot-chunk cap drops boilerplate") {
    val passage = "common middle content that is long enough to chunk " * 10
    val base = (1L to 5L).map(i => (i, s"doc $i distinctive preamble. " + passage))
    val df = base.toDF("id", "text")
    val loose = Dedup.sharedChunkPairs(df, "id", "text", minShared = 1,
      maxDocsPerChunk = Some(64)).count()
    assert(loose === 10L, "all 5 docs share the passage -> C(5,2) pairs")
    // cap below the 5-doc frequency: the shared chunks are boilerplate, drop them
    val capped = Dedup.sharedChunkPairs(df, "id", "text", minShared = 1,
      maxDocsPerChunk = Some(4)).count()
    assert(capped === 0L, "chunks present in >4 docs carry no pairing signal under the cap")
    // a high minShared bar drops pairs that share only a couple of chunks
    val strict = Dedup.sharedChunkPairs(df, "id", "text", minShared = 1000)
    assert(strict.count() === 0L)
  }

  test("pairOverlapProfile: jaccard vs containment separates dup from subset") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),        // exact dup of 1
      (3L, "alpha beta gamma delta"),                     // strict subset of 1
      (4L, "one two three four five six"),                // disjoint from 1
      (5L, "xy")).toDF("doc_id", "text")                  // too short: no shingles
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.pairOverlapProfile(pairs, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val dup = out((1L, 2L))
    assert(dup.getAs[Long]("n_shared") === 4L && dup.getAs[Double]("jaccard") === 1.0)
    val sub = out((1L, 3L))
    // doc 3 has 2 shingles, both inside doc 1's 4: containment_b = 1,
    // jaccard only 0.5 — the subset signature
    assert(sub.getAs[Double]("containment_b") === 1.0)
    assert(sub.getAs[Double]("jaccard") === 0.5)
    assert(sub.getAs[Long]("n_only_b") === 0L && sub.getAs[Long]("n_only_a") === 2L)
    val dis = out((1L, 4L))
    assert(dis.getAs[Long]("n_shared") === 0L && dis.getAs[Double]("jaccard") === 0.0)
    assert(!out.contains((1L, 5L)), "a shingle-less side drops the pair")
  }

  test("dedupYieldCurve: first occurrences are originals, repeats are dups, bins cumulate") {
    // ids 1..4 into 2 bins of 2. Texts: A, B, A, B -> bin0 all original,
    // bin1 all duplicate.
    val df = Seq((1L, "a a"), (2L, "b b"), (3L, "a a"), (4L, "b b"))
      .toDF("doc_id", "text")
    val rows = Dedup.dedupYieldCurve(df, "doc_id", "text", nBins = 2)
      .orderBy(col("bin")).collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Long]("bin") === 0L)
    assert(rows(0).getAs[Long]("n_docs") === 2L)
    assert(rows(0).getAs[Long]("n_dups") === 0L)
    assert(rows(0).getAs[Double]("dup_rate") === 0.0)
    assert(rows(1).getAs[Long]("n_dups") === 2L)
    assert(rows(1).getAs[Double]("dup_rate") === 1.0)
    assert(rows(1).getAs[Long]("cum_docs") === 4L)
    assert(rows(1).getAs[Double]("cum_dup_rate") === 0.5)
  }

  test("dedupYieldCurve: bin split follows rank, not raw id values") {
    // sparse non-contiguous ids still split evenly by rank
    val df = Seq((10L, "x"), (500L, "y"), (501L, "x"), (9000L, "z"))
      .toDF("doc_id", "text")
    val rows = Dedup.dedupYieldCurve(df, "doc_id", "text", nBins = 2)
      .orderBy(col("bin")).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).toSeq === Seq(2L, 2L))
    assert(rows(1).getAs[Long]("n_dups") === 1L) // 501 repeats 10's text
  }
}
