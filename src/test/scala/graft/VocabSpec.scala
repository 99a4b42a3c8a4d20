package graft

import graft.operators.{Scale, Vocab}
import org.apache.spark.sql.functions._

class VocabSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog sat"),
    (3L, "CAT cat")).toDF("doc_id", "text")

  test("buildVocab ranks by frequency desc then token asc; maxSize and minCount cut") {
    val v = Vocab.buildVocab(docs, "text", maxSize = 100)
      .orderBy("token_id").as[(String, Int, Long)].collect().toSeq
    // the:3, cat:3 (lowercased, CAT+cat+cat), sat:2, then dog/mat/on at 1
    assert(v.take(3) === Seq(("cat", 0, 3L), ("the", 1, 3L), ("sat", 2, 2L)))
    assert(v.drop(3).map(_._1) === Seq("dog", "mat", "on"))
    assert(Vocab.buildVocab(docs, "text", maxSize = 2).count() === 2)
    val pruned = Vocab.buildVocab(docs, "text", maxSize = 100, minCount = 2)
    assert(pruned.select("token").as[String].collect().toSet === Set("cat", "the", "sat"))
  }

  test("encodeIds preserves token order, marks OOV, counts both") {
    val v = Vocab.buildVocab(docs, "text", maxSize = 3) // cat=0, the=1, sat=2
    val enc = Vocab.encodeIds(docs, "doc_id", "text", v)
      .orderBy("doc_id")
      .select("doc_id", "token_ids", "n_tokens", "n_oov")
      .as[(Long, Seq[Int], Long, Long)].collect().toSeq
    assert(enc === Seq(
      (1L, Seq(1, 0, 2, -1, 1, -1), 6L, 2L), // the cat sat on the mat
      (2L, Seq(1, -1, 2), 3L, 1L), // the dog sat
      (3L, Seq(0, 0), 2L, 0L))) // CAT cat
  }

  test("guard rails") {
    intercept[IllegalArgumentException] { Vocab.buildVocab(docs, "text", 0) }
    intercept[IllegalArgumentException] { Vocab.buildVocab(docs, "text", 5, minCount = 0) }
    intercept[IllegalArgumentException] { Vocab.bpeMerges(docs, "text", 0) }
  }

  /** Driver-side reference BPE trainer — the textbook algorithm on word
    * counts (Sennrich 2016 fig. 1), with the operator's deterministic
    * (count desc, left asc, right asc) tie-break. */
  private def refBpe(texts: Seq[String], numMerges: Int,
      minPairCount: Long): Seq[(Int, String, String, Long)] = {
    val wordCounts = scala.collection.mutable.Map.empty[String, Long]
    texts.flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .foreach(w => wordCounts(w) = wordCounts.getOrElse(w, 0L) + 1L)
    var words = wordCounts.toSeq.map { case (w, n) =>
      val cs = w.toCharArray.map(_.toString).toVector
      (cs.init :+ (cs.last + Vocab.EndOfWord), n)
    }
    val out = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, n) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          pairCounts((p(0), p(1))) = pairCounts.getOrElse((p(0), p(1)), 0L) + n
        }
      }
      val best = pairCounts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= minPairCount =>
          out += ((rank, l, r, c))
          words = words.map { case (syms, n) =>
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.size) {
              if (i + 1 < syms.size && syms(i) == l && syms(i + 1) == r) {
                acc += (l + r); i += 2
              } else { acc += syms(i); i += 1 }
            }
            (acc.toVector, n)
          }
          rank += 1
        case _ => done = true
      }
    }
    out.toSeq
  }

  test("bpeMerges equals the textbook driver reference (tie-break and " +
    "early-exhaustion included)") {
    val texts = Seq(
      "low low low low low", "lower lower", "newest newest newest",
      "widest widest", "new new new")
    for (k <- Seq(3, 8, 40)) {
      val got = Vocab.bpeMerges(texts.zipWithIndex.map(_.swap).toDF("id", "text"),
          "text", numMerges = k)
        .orderBy("rank")
        .as[(Int, String, String, Long)].collect().toSeq
      assert(got === refBpe(texts, k, minPairCount = 2L), s"numMerges=$k")
    }
  }

  test("bpe merge loop: driver-local path emits the merge table the " +
    "distributed rounds emit (char AND byte level, unicode included)") {
    // under the local cutoff the loop runs on the driver; forcing the
    // cutoff to 0 runs the distributed rounds — the two must be
    // bit-identical including tie-breaks on non-ASCII symbols
    val texts = Seq(
      "низкий низкий низкий ниже", "café café cafétéria",
      "newest newest 新しい 新しい 新しい", "déjà vu déjà vu",
      "aa ab aa ab ba", "😀x 😀x 😀y")
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "text")
    def merges(d: org.apache.spark.sql.DataFrame, k: Int) = (
      Vocab.bpeMerges(d, "text", numMerges = k)
        .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq,
      Vocab.bpeMergesBytes(d, "text", numMerges = k)
        .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq)
    def distributed(d: org.apache.spark.sql.DataFrame, k: Int) =
      withConf(Scale.DriverLocalMaxRows, "0")(merges(d, k))
    for (k <- Seq(5, 24)) {
      val (local, localB) = merges(df, k)
      val (dist, distB) = distributed(df, k)
      assert(local === dist, s"char-level, numMerges=$k")
      assert(localB === distB, s"byte-level, numMerges=$k")
    }
    // at a lowered cutoff N: inventories of N-1 and N distinct words merge
    // on the driver, N+1 in distributed rounds; each must match the
    // forced-distributed merge table
    val words = texts.flatMap(_.split(" ")).distinct
    val n = 8
    for (size <- Seq(n - 1, n, n + 1)) {
      val d = Seq((0, words.take(size).flatMap(w => Seq(w, w)).mkString(" ")))
        .toDF("id", "text")
      assert(withConf(Scale.DriverLocalMaxRows, n.toString)(merges(d, 12)) ===
        distributed(d, 12), s"$size words at cutoff $n")
    }
  }

  test("bpeEncode applies merges lowest-rank-first; concatenated subwords " +
    "rebuild the words; no merges means character + </w> sequences") {
    val texts = Seq("low lower newest", "unseen")
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "text")
    val merges = Vocab.bpeMerges(df, "text", numMerges = 10)
    val enc = Vocab.bpeEncode(df, "id", "text", merges)
      .orderBy("id")
      .as[(Int, Seq[String], Int)].collect().toSeq
    enc.zip(texts).foreach { case ((_, subs, n), text) =>
      assert(n === subs.size)
      // subwords concatenate back to the words (with </w> at each end)
      val rebuilt = subs.mkString("").split(java.util.regex.Pattern.quote(Vocab.EndOfWord))
        .filter(_.nonEmpty).toSeq
      assert(rebuilt === text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq, subs.toString)
    }
    // empty merge table degrades to chars + fused end-of-word marker
    val none = Vocab.bpeEncode(df, "id", "text",
      Vocab.bpeMerges(df, "text", numMerges = 1, minPairCount = 1000L))
      .orderBy("id").as[(Int, Seq[String], Int)].collect().head
    assert(none._2.take(3) === Seq("l", "o", "w" + Vocab.EndOfWord))
  }

  /** Driver-side reference BYTE-level BPE trainer: identical to [[refBpe]]
    * but on uppercase-hex UTF-8 byte symbols — an independent walk of the
    * same textbook algorithm for the multilingual differential. */
  private def refBpeBytes(texts: Seq[String], numMerges: Int,
      minPairCount: Long): Seq[(Int, String, String, Long)] = {
    val wordCounts = scala.collection.mutable.Map.empty[String, Long]
    texts.flatMap(_.toLowerCase(java.util.Locale.ROOT).split("\\s+"))
      .filter(_.nonEmpty)
      .foreach(w => wordCounts(w) = wordCounts.getOrElse(w, 0L) + 1L)
    var words = wordCounts.toSeq.map { case (w, n) =>
      val bs = w.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").toVector
      (bs.init :+ (bs.last + Vocab.EndOfWord), n)
    }
    val out = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, n) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          pairCounts((p(0), p(1))) = pairCounts.getOrElse((p(0), p(1)), 0L) + n
        }
      }
      val best = pairCounts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= minPairCount =>
          out += ((rank, l, r, c))
          words = words.map { case (syms, n) =>
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.size) {
              if (i + 1 < syms.size && syms(i) == l && syms(i + 1) == r) {
                acc += (l + r); i += 2
              } else { acc += syms(i); i += 1 }
            }
            (acc.toVector, n)
          }
          rank += 1
        case _ => done = true
      }
    }
    out.toSeq
  }

  test("bpeMergesBytes equals the driver reference on multilingual fixtures") {
    // multi-byte UTF-8 throughout: Latin-1 accents (2 bytes), CJK (3
    // bytes), emoji (4 bytes) — the inputs where char-level and
    // byte-level BPE genuinely diverge
    val texts = Seq(
      "héllo héllo héllo naïve naïve", "héllo naïve café café",
      "中文 中文 中文 分词", "中文 分词 分词",
      "😀😀 😀😀 rocket 🚀 rocket")
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "text")
    for (k <- Seq(4, 12, 60)) {
      val got = Vocab.bpeMergesBytes(df, "text", numMerges = k)
        .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq
      assert(got === refBpeBytes(texts, k, minPairCount = 2L), s"numMerges=$k")
    }
    // a learned merge spelling is pure hex (+ optional </w>): decodable
    val all = Vocab.bpeMergesBytes(df, "text", numMerges = 12)
      .as[(Int, String, String, Long)].collect()
    all.foreach { case (_, l, r, _) =>
      Seq(l, r).foreach { s =>
        val hexPart = s.stripSuffix(Vocab.EndOfWord)
        assert(hexPart.nonEmpty && hexPart.length % 2 == 0 &&
          hexPart.forall(c => c.isDigit || ('A' to 'F').contains(c)), s)
      }
    }
  }

  test("bpeEncodeBytes: zero OOV on any script; hex subwords decode back to the words") {
    val texts = Seq("héllo 中文 🚀", "naïve café x")
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "text")
    val merges = Vocab.bpeMergesBytes(df, "text", numMerges = 20)
    val enc = Vocab.bpeEncodeBytes(df, "id", "text", merges)
      .orderBy("id").as[(Int, Seq[String], Int)].collect().toSeq
    def unhex(s: String): Array[Byte] =
      s.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    enc.zip(texts).foreach { case ((_, subs, n), text) =>
      assert(n === subs.size && subs.nonEmpty)
      val rebuilt = subs.mkString("")
        .split(java.util.regex.Pattern.quote(Vocab.EndOfWord))
        .filter(_.nonEmpty)
        .map(hx => new String(unhex(hx), "UTF-8")).toSeq
      assert(rebuilt === text.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty).toSeq, subs.toString)
    }
    // merges trained elsewhere still encode unseen multi-byte input
    // (no OOV by construction — every byte is in the base alphabet)
    val other = Seq((0, "совершенно 新しい 🌍")).toDF("id", "text")
    val enc2 = Vocab.bpeEncodeBytes(other, "id", "text", merges)
      .as[(Int, Seq[String], Int)].collect().head
    val rebuilt2 = enc2._2.mkString("")
      .split(java.util.regex.Pattern.quote(Vocab.EndOfWord))
      .filter(_.nonEmpty).map(hx => new String(unhex(hx), "UTF-8")).toSeq
    assert(rebuilt2 === Seq("совершенно", "新しい", "🌍"))
  }

  test("unigramEncode: Viterbi picks the max-logp segmentation; ties go to the longer head") {
    val pieces = Seq(("ab", -1.0), ("a", -2.0), ("b", -2.0), ("c", -3.0),
      ("xy", -2.0), ("x", -1.0), ("y", -1.0)).toDF("piece", "logp")
    val docs = Seq((1L, "abc"), (2L, "xy"), (3L, "zq")).toDF("id", "text")
    val out = Vocab.unigramEncode(docs, "id", "text", pieces, unkLogp = -100.0)
      .select("id", "pieces", "sum_logp")
      .as[(Long, Seq[String], Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 === Seq("ab", "c"), "(-1)+(-3) beats (-2-2-3)")
    assert(out(1L)._2 === -4.0)
    // "xy" as one piece (-2.0) ties "x"+"y" (-2.0): longer head wins
    assert(out(2L)._1 === Seq("xy"))
    // unknown chars fall back to single-char unk scoring
    assert(out(3L)._1 === Seq("z", "q") && out(3L)._2 === -200.0)
  }

  test("unigramEncode equals a driver-side Viterbi on real docs; pieces concatenate back") {
    val docs = testdata("sf0.001", "documents").limit(120)
    val pieceDf = Vocab.unigramPieces(docs, "text", maxPieceLen = 4, topV = 200)
    val table = pieceDf.select("piece", "logp").as[(String, Double)].collect().toMap
    val maxLen = table.keysIterator.map(_.length).max
    def ref(w: String): (Seq[String], Double) = {
      val n = w.length
      val best = Array.fill(n + 1)(Double.NegativeInfinity)
      val back = Array.fill(n + 1)(-1)
      best(0) = 0.0
      for (i <- 1 to n; j <- math.max(0, i - maxLen) until i) {
        val p = w.substring(j, i)
        val lp = table.getOrElse(p, if (p.length == 1) -100.0 else Double.NegativeInfinity)
        if (lp != Double.NegativeInfinity && best(j) + lp > best(i)) {
          best(i) = best(j) + lp; back(i) = j
        }
      }
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var k = n
      while (k > 0) { out.prepend(w.substring(back(k), k)); k = back(k) }
      (out.toSeq, out.map(p => table.getOrElse(p, -100.0)).sum)
    }
    val got = Vocab.unigramEncode(docs, "doc_id", "text", pieceDf)
      .select("doc_id", "pieces", "sum_logp")
      .as[(Long, Seq[String], Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
    texts.foreach { case (id, text) =>
      val words = Option(text).getOrElse("").toLowerCase.split("\\s+").filter(_.nonEmpty)
      val refPieces = words.flatMap(w => ref(w)._1).toSeq
      val (gotPieces, gotScore) = got(id)
      assert(gotPieces === refPieces, s"doc $id")
      assert(gotPieces.mkString === words.mkString, s"doc $id: pieces must concatenate back")
      val refScore = words.map(w => ref(w)._2).sum
      assert(math.abs(gotScore - refScore) < 1e-9, s"doc $id: $gotScore vs $refScore")
    }
  }

  test("wordpieceEncode: greedy longest-match, ## continuations, whole-word UNK") {
    val pieces = Seq("un", "##aff", "##able", "##ffa", "##b", "##le", "a",
      "##x", "over", "##long").toDF("piece")
    val docs = Seq((1L, "unaffable"), (2L, "unqx"), (3L, "ax ax"),
      (4L, null.asInstanceOf[String])).toDF("id", "text")
    val out = Vocab.wordpieceEncode(docs, "id", "text", pieces)
      .select("id", "pieces", "n_pieces", "n_unk")
      .as[(Long, Seq[String], Int, Int)].collect().map(r => r._1 -> r).toMap
    // greedy takes ##aff (3 chars) over ##a: un|##aff|##able — and it
    // beats the also-valid un|##a|##ffa|##b|##le because greedy is
    // longest-match-FIRST, not fewest-pieces... here it happens to also
    // be shortest; the point pinned is the per-position max-length choice
    assert(out(1L)._2 === Seq("un", "##aff", "##able"))
    assert(out(1L)._3 === 3 && out(1L)._4 === 0)
    // 'q' has no continuation piece -> the WHOLE word is [UNK]
    assert(out(2L)._2 === Seq("[UNK]") && out(2L)._4 === 1)
    assert(out(3L)._2 === Seq("a", "##x", "a", "##x"))
    assert(out(4L)._2 === Seq.empty && out(4L)._3 === 0 && out(4L)._4 === 0)
    // a 9-char word over maxWordLen = 8 collapses to [UNK] even though
    // its pieces exist
    val capped = Vocab.wordpieceEncode(
        Seq((9L, "unaffable")).toDF("id", "text"), "id", "text", pieces,
        maxWordLen = 8)
      .select("pieces", "n_unk").as[(Seq[String], Int)].collect().head
    assert(capped === ((Seq("[UNK]"), 1)))
  }

  test("wordpieceEncode equals a driver-side greedy on real docs; maxWordLen caps") {
    val docs = testdata("sf0.001", "documents").limit(120)
    val pieceDf = Vocab.wordpiecePieces(docs, "text", maxPieceLen = 4, topV = 300)
    val table = pieceDf.select("piece").as[String].collect().toSet
    val maxLen = table.map(_.length).max
    def ref(w: String): Option[Seq[String]] = {
      if (w.length > 100) return None
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var p = 0
      while (p < w.length) {
        val l = (math.min(maxLen, w.length - p) to 1 by -1).find { l =>
          table.contains(
            if (p == 0) w.substring(0, l) else "##" + w.substring(p, p + l))
        }.getOrElse(return None)
        out += (if (p == 0) w.substring(0, l) else "##" + w.substring(p, p + l))
        p += l
      }
      Some(out.toSeq)
    }
    val got = Vocab.wordpieceEncode(docs, "doc_id", "text", pieceDf)
      .select("doc_id", "pieces", "n_unk")
      .as[(Long, Seq[String], Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
    texts.foreach { case (id, text) =>
      val words = Option(text).getOrElse("")
        .toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      val refOut = words.map(w => ref(w))
      val refPieces = refOut.flatMap(_.getOrElse(Seq("[UNK]"))).toSeq
      assert(got(id)._1 === refPieces, s"doc $id")
      assert(got(id)._2 === refOut.count(_.isEmpty), s"doc $id n_unk")
      // non-UNK words concatenate back (## stripped)
      words.zip(refOut).collect { case (w, Some(ps)) =>
        assert(ps.map(_.stripPrefix("##")).mkString === w)
      }
    }
  }

  test("fertilityAudit: hand-counted fertility and OOV; wordless groups keep NULL ratios") {
    import spark.implicits._
    val docs = Seq(
      ("en", "Hello, world!"),        // 2 words; subwords: Hello , world ! = 4
      ("en", "hello, again"),         // 2 words; subwords: hello , again = 3
      ("xx", ""),                     // wordless group, 0 subwords
      ("yy", null.asInstanceOf[String]))
      .toDF("lang", "text")
    // vocabSize=2 keeps the two most frequent terms: "hello," (2 occ.)
    // then "again" (ties at 1 break alphabetically) -> "world!" is OOV
    val got = graft.operators.Vocab.fertilityAudit(docs, "lang", "text", vocabSize = 2)
      .select("lang", "n_docs", "n_words", "n_subwords", "n_oov", "fertility", "oov_rate")
      .as[(String, Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("en") === (("en", 2L, 4L, 7L, 1L, Some(1.75), Some(0.25))))
    assert(got("xx") === (("xx", 1L, 0L, 0L, 0L, None, None)))
    assert(got("yy") === (("yy", 1L, 0L, 0L, 0L, None, None)))
  }

  test("lexicalProfile: tokens/types/hapax per group, case-folded, null-safe") {
    val df = Seq(
      ("g", "a b a c"), ("g", "b d"),
      ("h", "A a"), ("h", null.asInstanceOf[String]),
      (null.asInstanceOf[String], "ignored")).toDF("src", "text")
    val got = Vocab.lexicalProfile(df, "src", "text")
      .select("src", "n_tokens", "n_types", "n_hapax", "ttr", "hapax_share")
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // g: a2 b2 c1 d1
    assert(got("g") === (("g", 6L, 4L, 2L, 4.0 / 6.0, 0.5)))
    // h: "A a" folds to one type with count 2 -> no hapax
    assert(got("h") === (("h", 2L, 1L, 0L, 0.5, 0.0)))
    assert(!got.contains(null), "null group drops")
  }

  test("vocabCoverageByGroup: Good coverage and bias-corrected Chao1, f2=0 well-defined") {
    val df = Seq(
      ("g", "a a b c"),            // a:2 b:1 c:1 -> N=4 V=3 f1=2 f2=1
      ("h", "a b"),                // f1=2 f2=0 -> chao1 = 2 + 2*1/(2*1) = 3
      ("k", "x x x"),              // no singletons -> coverage 1, chao1 = V
      (null.asInstanceOf[String], "ignored")).toDF("src", "text")
    val got = Vocab.vocabCoverageByGroup(df, "src", "text")
      .select("src", "n_tokens", "n_types", "f1", "f2",
        "good_coverage", "unseen_mass", "chao1")
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("g") === (("g", 4L, 3L, 2L, 1L, 0.5, 0.5,
      3.0 + 2.0 / 4.0)))
    assert(got("h") === (("h", 2L, 2L, 2L, 0L, 0.0, 1.0, 3.0)))
    assert(got("k") === (("k", 3L, 1L, 0L, 0L, 1.0, 0.0, 1.0)))
    assert(!got.contains(null), "null group drops")
  }

  test("chunkDocuments: stride windows cover every token; last chunk never pure overlap") {
    val df = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // n=10, chunk 4, stride 3 -> 3 chunks
      (2L, "a b c"),                          // n < chunk -> 1 chunk
      (3L, "x y z w v u q r s"),              // n=9 -> chunks 0-3, 3-6, 6-8
      (4L, "   "),                            // 0 tokens -> no rows
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Vocab.chunkDocuments(df, "doc_id", "text",
        chunkTokens = 4, overlapTokens = 1)
      .select("doc_id", "chunk_id", "start_tok", "end_tok", "n_tokens", "text")
      .as[(Long, Int, Long, Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    assert(got(1L) === Seq(
      (1L, 0, 0L, 3L, 4, "t0 t1 t2 t3"),
      (1L, 1, 3L, 6L, 4, "t3 t4 t5 t6"),
      (1L, 2, 6L, 9L, 4, "t6 t7 t8 t9")))
    assert(got(2L) === Seq((2L, 0, 0L, 2L, 3, "a b c")))
    assert(got(3L).map(c => (c._3, c._4)) === Seq((0L, 3L), (3L, 6L), (6L, 8L)))
    assert(!got.contains(4L) && !got.contains(5L))
    // every token index is covered by at least one chunk
    for ((_, chunks) <- got) {
      val n = chunks.map(_._4).max + 1
      val covered = chunks.flatMap(c => c._3 to c._4).toSet
      assert(covered === (0L until n).toSet)
    }
  }

  test("skipGramPairs: full directed pair multiset within the window") {
    val df = Seq((7L, "a b c")).toDF("doc_id", "text")
    val w1 = Vocab.skipGramPairs(df, "doc_id", "text", window = 1)
      .select("center_ix", "center", "context", "distance")
      .as[(Long, String, String, Int)].collect().toSet
    assert(w1 === Set(
      (0L, "a", "b", 1), (1L, "b", "a", 1), (1L, "b", "c", 1), (2L, "c", "b", 1)))
    val w2 = Vocab.skipGramPairs(df, "doc_id", "text", window = 2)
      .select("center_ix", "center", "context", "distance")
      .as[(Long, String, String, Int)].collect().toSet
    assert(w2 === w1 ++ Set((0L, "a", "c", 2), (2L, "c", "a", 2)))
    // tokens lowercase; short docs emit nothing
    val one = Vocab.skipGramPairs(Seq((1L, "Solo")).toDF("doc_id", "text"),
      "doc_id", "text", window = 2)
    assert(one.count() === 0L)
  }

  test("cooccurrenceCounts: GloVe 1/d weights over the symmetric window") {
    val df = Seq((1L, "a b a")).toDF("doc_id", "text")
    // pairs (w=2): (a0,b,1)x2dir, (b,a2,1)x2dir, (a0,a2,2)x2dir
    val got = Vocab.cooccurrenceCounts(df, "doc_id", "text", window = 2)
      .select("center", "context", "n_pairs", "x_glove")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got(("a", "b")) === ((2L, 2.0)))       // two 1/1 terms
    assert(got(("b", "a")) === ((2L, 2.0)))
    assert(got(("a", "a")) === ((2L, 1.0)))       // two 1/2 terms
    assert(got.size === 3)
    // symmetric window -> symmetric matrix on a bigger corpus
    val sym = Vocab.cooccurrenceCounts(
        Seq((1L, "x y z x w"), (2L, "y y x")).toDF("doc_id", "text"),
        "doc_id", "text", window = 2)
      .select("center", "context", "n_pairs", "x_glove")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    for (((c, x), v) <- sym) assert(sym((x, c)) === v, s"asymmetry at ($c,$x)")
  }

  test("fastTextSubwords: bracketed n-grams, the whole word always present, stable buckets") {
    val df = Seq(("cat cat go")).toDF("text")
    val got = Vocab.fastTextSubwords(df, "text", nMin = 3, nMax = 4,
        nBuckets = 64L)
      .select("word", "subword", "bucket")
      .as[(String, String, Long)].collect()
    val byWord = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // "<cat>": 3-grams <ca, cat, at>; 4-grams <cat, cat>; plus itself
    assert(byWord("cat") === Set("<ca", "cat", "at>", "<cat", "cat>", "<cat>"))
    // "<go>" is shorter than 4: 3-grams only, plus itself
    assert(byWord("go") === Set("<go", "go>", "<go>"))
    assert(got.forall(r => r._3 >= 0L && r._3 < 64L))
    // distinct vocabulary: "cat" appears twice in the corpus, once here
    assert(got.count(_._1 == "cat") === 6)
    // buckets are a pure function of the subword bytes
    val again = Vocab.fastTextSubwords(df, "text", nMin = 3, nMax = 4,
        nBuckets = 64L).select("word", "subword", "bucket")
      .as[(String, String, Long)].collect()
    assert(again.toSet === got.toSet)
  }

  test("subsampleFrequent: md5-deterministic occurrence drops, rare words always survive") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val t = 0.05
    val rows = Seq(
      (1L, "the the the cat the the dog the"),
      (2L, "the the the the bird the the the"),
      (3L, "unique words only here now"))
    val df = rows.toDF("doc_id", "text")
    val got = Vocab.subsampleFrequent(df, "doc_id", "text", t = t)
      .select("doc_id", "text", "n_tokens_kept", "n_tokens_removed")
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    // in-memory reference with the same hash and IEEE tree
    val all = rows.flatMap { case (id, tx) =>
      tx.split("\\s+").filter(_.nonEmpty).zipWithIndex.map {
        case (tok, ix) => (id, ix.toLong, tok, tok.toLowerCase) } }
    val freq = all.groupBy(_._4).view.mapValues(_.size.toLong).toMap
    val n = all.size.toDouble
    val expected = rows.map { case (id, tx) =>
      val toks = tx.split("\\s+").filter(_.nonEmpty)
      val kept = toks.zipWithIndex.filter { case (tok, ix) =>
        val f = freq(tok.toLowerCase).toDouble / n
        val u = h60(s"subsample:$id:$ix").toDouble / 1152921504606846976.0
        u < math.sqrt(t / f) + t / f
      }.map(_._1)
      (id, kept.mkString(" "), kept.length, toks.length - kept.length)
    }.map(r => r._1 -> r).toMap
    assert(got === expected)
    // every singleton has sqrt(t/f) >= 1 here -> doc 3 passes untouched
    assert(got(3L)._2 === "unique words only here now")
    // "the" (f = 13/21) genuinely gets thinned at t = 0.05
    assert(got(1L)._4 + got(2L)._4 > 0, "the frequent word must lose occurrences")
  }

  test("negativeSamplingTable: c^(3/4) via nested sqrts, CDF in (count desc, term) order") {
    def w9(c: Long): BigDecimal = BigDecimal(
        math.sqrt(c.toDouble * math.sqrt(c.toDouble)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def r9(x: Double): Double = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val df = Seq(("a a a a b"), ("b c")).toDF("text") // a:4 b:2 c:1
    val got = Vocab.negativeSamplingTable(df, "text")
      .select("term", "count", "weight", "prob", "cum_prob")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (wa, wb, wc) = (w9(4L), w9(2L), w9(1L))
    val tot = (wa + wb + wc).toDouble
    assert(got("a") === (("a", 4L, wa.toDouble,
      r9(wa.toDouble / tot), r9(wa.toDouble / tot))))
    assert(got("b") === (("b", 2L, wb.toDouble,
      r9(wb.toDouble / tot), r9((wa + wb).toDouble / tot))))
    assert(got("c") === (("c", 1L, wc.toDouble,
      r9(wc.toDouble / tot), 1.0)))
    // the CDF covers the unit interval and is the inverse-CDF lookup key
    assert(got.values.map(_._4).sum > 0.999 && got.values.map(_._4).sum < 1.001)
  }

  test("distinctNgramsByGroup: repetition collapses distinct-n; grams never span docs") {
    val docs = Seq(
      (1L, "g", "a a a a"),   // 4 unigrams / 1 distinct; 3 bigrams / 1 distinct
      (2L, "h", "a b c"),     // 3/3; 2/2
      (3L, "h", "c a"),       // +2 unigrams (a,c seen), +1 bigram "c a" (new)
      (4L, null.asInstanceOf[String], "x y z"))
      .toDF("doc_id", "src", "text")
    val out = Vocab.distinctNgramsByGroup(docs, "src", "doc_id", "text", maxN = 2)
      .select("src", "n", "n_total", "n_distinct", "distinct_ratio")
      .as[(String, Int, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out.size === 4, "NULL groups drop")
    assert(out(("g", 1)) === ((4L, 1L, 0.25)))
    assert(out(("g", 2)) === ((3L, 1L, 1.0 / 3.0)))
    // h unigrams: a b c | c a -> 5 total, 3 distinct
    assert(out(("h", 1)) === ((5L, 3L, 0.6)))
    // h bigrams: "a b", "b c" | "c a" - doc 3's "c a" never fuses with
    // doc 2's tail (grams don't span docs) -> 3 total, 3 distinct
    assert(out(("h", 2)) === ((3L, 3L, 1.0)))
  }
}
