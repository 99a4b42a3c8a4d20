package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines (beyond-reference,
  * SURVEY.md §2.4; the reference has no dedup of its own — its closest
  * surface is Polars' unique() reached through the blanket wrapper,
  * /root/reference/magictables/magictable.py:451-459).
  *
  * Scale design (the 100 TB rules):
  *  - exact dedup is a hash-groupBy on an md5 fingerprint — one shuffle of
  *    (fingerprint, id), never of document text;
  *  - MinHash signatures come from explode+groupBy so Spark's partial
  *    aggregation combines per-(doc, seed) minima map-side before the
  *    shuffle — shuffle volume is O(docs × seeds), not O(shingles);
  *  - LSH banding turns the quadratic all-pairs problem into a self-join on
  *    (band, bucket) — only same-bucket pairs are verified, and the final
  *    jaccard check joins shingle arrays only for the candidate pairs;
  *  - every hash is md5-based so results are bit-identical in the DuckDB
  *    oracle (engine-specific xxhash64/murmur are deliberately avoided).
  */
object Dedup {

  // ------------------------------------------------------------ exact

  /** Exact duplicate groups keyed by the normalized-text fingerprint:
    * (fingerprint, canonical_id = min id, n_docs). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Keep one row per exact-duplicate group (the min-id row). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val groups = exactGroups(df, idCol, textCol).select(col("canonical_id").as(idCol))
    df.join(groups, Seq(idCol), "left_semi")
  }

  /** Exact-duplicate YIELD CURVE: duplicate rate per ingest-order
    * quantile bin — the saturation diagnostic behind the "dedup
    * incrementally or in one batch?" decision: if the marginal
    * (per-bin) dup rate climbs as the corpus grows, every new crawl
    * slice repeats more of what is already held, and an incremental
    * index ([[nearDupPairsAgainstIndex]]) beats recomputing. A doc is a
    * duplicate iff an EARLIER doc (smaller `idCol`) shares its
    * normalized-text fingerprint ([[exactGroups]]' key). Output, one
    * row per non-empty bin: (bin 0-based long, n_docs, n_dups longs,
    * dup_rate double, cum_docs, cum_dups longs, cum_dup_rate double).
    * NULL ids drop.
    *
    * Exactness: first-occurrence and bin decisions are pure integer
    * arithmetic (bin = (rank−1)·nBins / n in integer division); the two
    * rates are single integer divisions.
    *
    * 100 TB shape: one fingerprint min-aggregation (the exactGroups
    * shuffle), ranks via [[PrefixSum]] (range exchange + broadcast
    * offsets — no single-reducer window over docs), a 1-row total
    * broadcast for the bin split, and the cumulative pass runs over
    * ≤ nBins rows. */
  def dedupYieldCurve(df: DataFrame, idCol: String, textCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, s"dedupYieldCurve: nBins must be >= 1, got $nBins")
    val id = col(s"`$idCol`")
    val fps = df.filter(id.isNotNull)
      .select(id.as("__id"), TextFunctions.fingerprint(col(s"`$textCol`")).as("__fp"))
    val first = fps.groupBy(col("__fp")).agg(min(col("__id")).as("__first"))
    val flagged = fps.join(first, Seq("__fp"))
      .select(col("__id"), (col("__id") > col("__first")).as("__dup"))
      .withColumn("__one", lit(1L))
      .withColumn("__d", when(col("__dup"), 1L).otherwise(0L))
    val ranked = PrefixSum.withRunningSums(flagged, "__id",
      Seq("__one", "__d"))
    // total off the STAGED scan (max rank) — aggregating `flagged` again
    // would re-run the corpus-sized fingerprint join
    val tot = ranked.agg(coalesce(max(col("cum___one")), lit(0L)).as("__n"))
    val binned = ranked.crossJoin(broadcast(tot))
      .withColumn("__bin", expr(s"((cum___one - 1) * $nBins) div __n"))
      .groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__d")).as("n_dups"))
    // cumulative pass over <= nBins rows — a bounded frame by contract
    val wb = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    binned
      .withColumn("cum_docs", sum(col("n_docs")).over(wb))
      .withColumn("cum_dups", sum(col("n_dups")).over(wb))
      .select(col("bin"), col("n_docs"), col("n_dups"),
        (col("n_dups").cast("double") / col("n_docs").cast("double")).as("dup_rate"),
        col("cum_docs"), col("cum_dups"),
        (col("cum_dups").cast("double") / col("cum_docs").cast("double"))
          .as("cum_dup_rate"))
  }

  // ------------------------------------------------------------ MinHash + LSH

  /** Word-n-gram shingles as a row stream (id, shingle), WITH duplicates.
    *
    * Deliberately avoids exploding a higher-order-function result: Spark
    * evaluates a lambda-bearing generator expression per OUTPUT row (and
    * HOFs never enter whole-stage codegen), which measured ~25x slower at
    * sf0.1 than this posexplode(split) + window-lead pipeline, which stays
    * fully codegen'd. One shuffle (tokens by doc for the lead window).
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, shingleN: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(shingleN >= 1)
    // carryCols: extra doc-level columns riding the stream (functionally
    // dependent on idCol — e.g. the doc's source for overlap matrices);
    // the window still partitions by idCol alone.
    //
    // Shape note (r18): an array-HOF reformulation (grams via
    // transform/element_at off the in-row token array — zero shuffle) was
    // built and MEASURED REVERTED: Catalyst array lambdas evaluate
    // interpreted, ~3x the per-row cost of this codegen'd window+lead
    // path, and with no exchange the gram work inherits the input's
    // partitioning — inside the staged curation funnel that meant an
    // 11.5 s single-task stage (p233 4.5 s -> 25 s). The window's
    // exchange both keeps the hot loop in whole-stage codegen and spreads
    // the gram work; at 100 TB the shuffle carries (id, pos, token)
    // triples once per consumer, the audited cost of the family.
    val carry = carryCols.map(c => col(s"`$c`"))
    val toks = df
      .select(col(idCol) +: carry :+
        posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("__pos", "__tok")): _*)
      .filter(col("__tok") =!= "")
    if (shingleN == 1) toks.select(col(idCol) +: carry :+ col("__tok").as("shingle"): _*)
    else {
      val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      val leads = (1 until shingleN).map(i => lead(col("__tok"), i).over(w).as(s"__t$i"))
      toks.select((col(idCol) +: carry :+ col("__tok")) ++ leads: _*)
        .filter(col(s"__t${shingleN - 1}").isNotNull)
        .select(col(idCol) +: carry :+
          concat_ws(" ", col("__tok") +: (1 until shingleN).map(i => col(s"__t$i")): _*).as("shingle"): _*)
    }
  }

  /** Distinct word-n-gram shingle sets: (id, __shingles). Docs with fewer
    * than n tokens drop out (no shingles -> nothing to compare). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    shingleRows(df, idCol, textCol, shingleN)
      .groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("__shingles"))

  /** The shingle-set frame the prefix-filter joins consume — (idCol,
    * __shingles sorted asc, __sz long), empty sets dropped. Build it ONCE
    * and pass it to [[jaccardPairsPrefix]]/[[containmentPairsPrefix]] via
    * `preSets` when several similarity passes run over the same corpus
    * (a production near-dup DAG runs Jaccard + containment + the cut
    * variant off one materialization; rebuilding the corpus-sized
    * tokenize/collect_set/sort per pass is pure duplicated allocation —
    * measured as the dominant GC contributor in the r15 suite). The
    * CALLER owns staging/persistence of this frame. */
  def prefixShingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    shingleSets(df, idCol, textCol, shingleN)
      .select(col(idCol), sort_array(col("__shingles")).as("__shingles"),
        size(col("__shingles")).cast("long").as("__sz"))

  /** Structural check on a caller-supplied `preSets` frame: it must have
    * exactly the (idCol, __shingles: array<string>, __sz: long) schema
    * [[prefixShingleSets]] produces. A frame with extra/missing columns or
    * wrong types fails LOUDLY here instead of silently producing wrong
    * similarity values downstream (the exactness contract). What a schema
    * check CANNOT see — the caller must guarantee it — is that the frame
    * came from [[prefixShingleSets]] with the SAME shingleN the pass
    * expects: unsorted arrays or a different gram order make the prefix
    * filter silently drop true pairs. */
  private def requirePreSetsShape(preSets: DataFrame, idCol: String,
      caller: String): Unit = {
    val sch = preSets.schema
    require(sch.fieldNames.toSeq == Seq(idCol, "__shingles", "__sz"),
      s"$caller preSets must have exactly columns ($idCol, __shingles, __sz) " +
        s"— the prefixShingleSets shape — got (${sch.fieldNames.mkString(", ")})")
    val shT = sch("__shingles").dataType
    require(shT.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
      shT.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ==
        org.apache.spark.sql.types.StringType,
      s"$caller preSets.__shingles must be array<string>, got ${shT.simpleString}")
    require(sch("__sz").dataType == org.apache.spark.sql.types.LongType,
      s"$caller preSets.__sz must be bigint, got ${sch("__sz").dataType.simpleString}")
  }

  /** Winnowing fingerprints for a whole corpus via the codegen'd shingle
    * stream: the k lexicographically smallest md5 shingle digests per doc
    * (duplicates included), ascending, '|'-joined — value-identical to
    * TextFunctions.winnowFingerprint but ~20x faster than evaluating the
    * interpreted array-lambda expression per row. Docs with no shingles
    * get "". */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, outCol: String = "winnow"): DataFrame = {
    val hashed = shingleRows(df, idCol, textCol, shingleN)
      .withColumn("__h", md5(col("shingle")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__h"))
    val topK = hashed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(col(idCol))
      .agg(concat_ws("|", array_sort(collect_list(col("__h")))).as(outCol))
    df.select(col(idCol)).join(topK, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(outCol), lit("")).as(outCol))
  }

  /** Carter-Wegman-style hash family from ONE md5 per shingle: with
    * b1/b2 = the first/second 56-bit halves of md5(shingle), permutation i
    * is b1 + i*b2 (distinct linear combos of two independent uniform
    * values; i*b2 <= 15*2^56 < 2^63, no overflow, no modulus needed).
    * One digest instead of numHashes digests — at scale the md5 is the
    * dominant cost of signature building. */
  def minhashHash(md5Col: Column, seed: Int): Column =
    conv(substring(md5Col, 1, 14), 16, 10).cast("long") +
      lit(seed.toLong) * conv(substring(md5Col, 17, 14), 16, 10).cast("long")

  /** MinHash signature: one column h0..h{k-1} per hash-family member, each
    * the numeric min over the doc's shingles. Works on the raw shingle
    * stream (duplicates cannot change a min) and is partial-aggregation-
    * friendly: minima combine map-side, so the shuffle carries
    * O(docs x seeds), not O(shingles).
    *
    * The two hex→long conversions are hoisted into ONE projection before
    * the aggregate: aggregate update expressions are not common-
    * subexpression-eliminated, so inlining [[minhashHash]] per seed would
    * re-run both `conv`s numHashes times per shingle (16 string
    * conversions/row at the default 8 seeds, on the hot path of every
    * dedup query). Values are identical to minhashHash(md5, i). */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame = {
    require(numHashes <= 16, "linear family overflows beyond 16 members")
    val ex = shingleRows(df, idCol, textCol, shingleN)
      .withColumn("__md5", md5(col("shingle"))) // ONE digest per shingle
      .withColumn("__c1", conv(substring(col("__md5"), 1, 14), 16, 10).cast("long"))
      .withColumn("__c2", conv(substring(col("__md5"), 17, 14), 16, 10).cast("long"))
    val aggs = (0 until numHashes).map(i =>
      min(col("__c1") + lit(i.toLong) * col("__c2")).as(s"h$i"))
    ex.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Default cap on per-bucket membership for pairwise candidate joins —
    * see [[cappedBucketPairs]]. */
  val DefaultMaxBucket = 1000

  /** Candidate pairs from bucket co-membership with a HOT-BUCKET CAP.
    *
    * The (bucket) self-join is quadratic in bucket occupancy; real corpora
    * have degenerate buckets (empty docs, boilerplate headers), and at
    * 100 TB one bucket with 10^6 members would mean 10^12 pairs on one
    * reducer. Buckets with <= maxBucket members join all-pairs as usual;
    * an OVERSIZED bucket is usually a near-duplicate cluster, so its
    * members instead pair only with the bucket's hotBucketReps lowest-id
    * representatives (star pattern, O(k*n) per bucket). This is a RECALL
    * trade-off, not an equivalence: with a verification filter downstream
    * (hamming/cosine/jaccard), a member whose pairs with ALL k
    * representatives fail verification loses its candidate pairs from this
    * bucket, so documents that all-pairs would have removed can survive.
    * The miss is confined to degenerate (over-cap) buckets and its
    * probability falls geometrically with hotBucketReps; raise
    * hotBucketReps/maxBucket or pre-filter boilerplate if it matters.
    *
    * Input: one row per (bucket membership), bucket key in bucketCols,
    * doc id in idCol, plus any per-doc payload columns to carry. Output:
    * (id_a, id_b, <payload_a as <c>_a>, <payload_b as <c>_b>) distinct by
    * (id_a, id_b), id_a < id_b. One shuffle for the occupancy window (the
    * pair join then reuses that partitioning).
    */
  def cappedBucketPairs(buckets: DataFrame, bucketCols: Seq[String],
      idCol: String, payloadCols: Seq[String], maxBucket: Int,
      hotBucketReps: Int = 3, spreadBlocks: Int = 1): DataFrame = {
    require(hotBucketReps >= 1, "need at least one hot-bucket representative")
    require(spreadBlocks >= 1, "spreadBlocks must be >= 1")
    val reserved = Seq("__cbp_n", "__cbp_rk", "__cbp_blk")
    require((bucketCols ++ payloadCols :+ idCol).forall(!reserved.contains(_)),
      s"column names ${reserved.mkString(", ")} are reserved by cappedBucketPairs")
    val w = Window.partitionBy(bucketCols.map(col): _*)
    // ids are distinct within a bucket, so the rank is total and the k
    // representatives are exactly the k smallest ids — which means every
    // rep-vs-member pair already satisfies id_rep < id_member or is a
    // rep-rep pair caught by the id_a < id_b filter. Both window functions
    // share one partitioning (a single exchange).
    val wOrd = Window.partitionBy(bucketCols.map(col): _*).orderBy(col(idCol))
    val ann = buckets.withColumn("__cbp_n", count(lit(1)).over(w))
      .withColumn("__cbp_rk", row_number().over(wOrd))
    def side(suffix: String)(df: DataFrame): DataFrame =
      df.select(bucketCols.map(col) ++
        (col(idCol).as(s"id_$suffix") +: payloadCols.map(c => col(c).as(s"${c}_$suffix"))): _*)
    // spreadBlocks > 1 decomposes each bucket's pair space over
    // spreadBlocks deterministic id-blocks: the B side carries its block,
    // the A side replicates once per target block, and the join keys on
    // (bucket, block) — |buckets| x spreadBlocks reduce keys instead of
    // |buckets|. For a FEW-BUCKET pair space (semDedup's nClusters cells)
    // the plain join lands every quadratic dot on <= |buckets| tasks and
    // AQE's byte-based coalescing then merges those near-empty-byte,
    // compute-dense partitions into ONE (measured p64: a 994 ms
    // single-task pair stage on 32 idle cores — the finding-7 byte-vs-
    // compute mismatch on the join path). The pair SET is unchanged:
    // every (a, b) pair is emitted exactly once, under b's block. Callers
    // with bucket counts >= the core count keep the default 1 — blocking
    // there only multiplies the A-side shuffle (the r17 experiment that
    // regressed p05/p13 when applied unconditionally).
    def pairJoin(a: DataFrame, b: DataFrame): DataFrame =
      if (spreadBlocks <= 1)
        a.join(b, bucketCols).filter(col("id_a") < col("id_b"))
      else {
        // Two mechanisms, one per join strategy the planner may pick:
        // the (bucket, block) key spreads a sort-merge/shuffled-hash join
        // over |buckets| x spreadBlocks reducers, and the round-robin
        // repartition of the replicated probe side spreads a BROADCAST
        // hash join (which otherwise inherits the occupancy window's
        // byte-coalesced single partition — the probe stage, not the join
        // keys, is its only parallelism). Both are no-ops for the pair
        // SET; the repartition is a few-MB exchange of the already-small
        // spread-eligible side.
        val blocks = array((0 until spreadBlocks).map(lit): _*)
        val par = a.sparkSession.sparkContext.defaultParallelism
        a.withColumn("__cbp_blk", explode(blocks))
          .repartition(par)
          .join(b.withColumn("__cbp_blk",
            pmod(hash(col("id_b")), lit(spreadBlocks))),
            bucketCols :+ "__cbp_blk")
          .filter(col("id_a") < col("id_b"))
      }
    val small = ann.filter(col("__cbp_n") <= maxBucket)
    val pairsSmall = pairJoin(side("a")(small), side("b")(small))
    val big = ann.filter(col("__cbp_n") > maxBucket)
    val pairsBig = pairJoin(
      side("a")(big.filter(col("__cbp_rk") <= hotBucketReps)), side("b")(big))
    val outCols = ("id_a" +: payloadCols.map(_ + "_a")) ++ ("id_b" +: payloadCols.map(_ + "_b"))
    pairsSmall.select(outCols.map(col): _*)
      .unionByName(pairsBig.select(outCols.map(col): _*))
      .dropDuplicates("id_a", "id_b")
  }

  /** LSH candidate pairs from banded signatures. With rowsPerBand hashes per
    * band, a pair lands in the same bucket of a band iff all that band's
    * hashes agree; P(candidate) = 1-(1-j^r)^b — tune (r, b) to the target
    * similarity. Returns distinct (id_a, id_b) with id_a < id_b. Buckets
    * over maxBucket members degrade to star pairs ([[cappedBucketPairs]]). */
  def lshCandidates(signatures: DataFrame, idCol: String,
      numHashes: Int, rowsPerBand: Int,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("bucket"))
    }
    val buckets = signatures
      .select(col(idCol), explode(array(bands: _*)).as("__b"))
      .select(col(idCol), col("__b.band").as("__band"), col("__b.bucket").as("__bucket"))
    cappedBucketPairs(buckets, Seq("__band", "__bucket"), idCol, Nil, maxBucket)
  }

  /** Exact Jaccard similarity of two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** MinHash-LSH near-duplicate pairs, verified: candidates from banding,
    * then exact shingle-set Jaccard >= threshold. Output
    * (id_a, id_b, jaccard_sim). */
  def nearDupPairsMinhash(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 1,
      threshold: Double = 0.8): DataFrame = {
    // Shuffle economics at 100 TB: the signature aggregation's shuffle is
    // O(docs x seeds) longs (minima combine map-side), but shingle SETS
    // are corpus-sized — so sets are built ONLY for documents that appear
    // in a candidate pair (a tiny fraction), via a second pass over the
    // shingle stream semi-joined to candidate ids. Two scans of the input
    // beat one corpus-sized set shuffle. The small candidate-pair frame
    // feeds three consumers (id extraction + both verify joins), so THAT —
    // not a corpus-sized intermediate — is what Stager.stage
    // materializes. Default stays LocalCheckpoint; cluster jobs that must
    // survive executor loss run inside Stager.using(Stager.Parquet(graph))
    // (trade-offs in Stager's scaladoc). On STANDALONE p05 the staged frames are small
    // enough that Parquet staging is competitive (graft.StagerBench,
    // numbers in FIXTURES.md) — the durable mode costs nothing extra here.
    // signatures are a few longs per doc — staging them is cheap, and the
    // banded self-join downstream references its input from several plan
    // branches (occupancy window + both join sides), which would otherwise
    // recompute the whole shingle pipeline per branch
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val sig = Stager.stage(
      minhashSignature(df, idCol, textCol, shingleN, numHashes),
      s"minhash_sig_$runId")
    val cands = Stager.stage(
      lshCandidates(sig, idCol, numHashes, rowsPerBand),
      s"minhash_cands_$runId")
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    // filter docs BEFORE shingling: the semi-join runs on raw (id, text)
    // rows, so the explode/window/md5 work happens only for candidate
    // docs. AQE broadcasts the semi-join when candIds is small (the staged
    // cands frame has exact size stats); degenerate corpora fall back to a
    // shuffle join rather than OOMing a forced broadcast.
    // staged: BOTH verify sides (sa, sb) read the candidate shingle sets —
    // unstaged, the semi-join + re-shingle + collect_set pass computed
    // TWICE (two broadcast branches in the final plan, plan-verified).
    // The semi-join output is re-spread round-robin BEFORE the shingle
    // work: candidate docs are the small by-product of banding (scale-safe
    // to re-exchange), and when `df` arrives as a byte-coalesced staged
    // frame (the curation funnel's canonical-survivor checkpoint) the
    // whole re-shingle otherwise lands on its 1-2 partitions — measured
    // 11 s single-task checkpoint inside p11 without the spread.
    val candSets = Stager.stage(
      shingleRows(
          df.join(candIds, Seq(idCol), "left_semi")
            .repartition(df.sparkSession.sparkContext.defaultParallelism),
          idCol, textCol, shingleN)
        .groupBy(col(idCol)).agg(collect_set(col("shingle")).as("__shingles")),
      s"minhash_candsets_$runId")
    val sa = candSets.select(col(idCol).as("id_a"), col("__shingles").as("__sa"))
    val sb = candSets.select(col(idCol).as("id_b"), col("__shingles").as("__sb"))
    // spread the verify probe: the staged cands frame often holds fewer
    // partitions than cores (byte-coalesced), and the per-pair
    // array_intersect otherwise runs single-task (see spreadStaged)
    spreadStaged(cands)
      .join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard_sim", jaccard(col("__sa"), col("__sb")))
      .filter(col("jaccard_sim") >= threshold)
      .select("id_a", "id_b", "jaccard_sim")
  }

  /** Round-robin fan-out of a STAGED (already materialized) frame whose
    * partition count came out below the core count — the byte-coalesced
    * checkpoint feeding a compute-dense verify pass (per-pair
    * array_intersect, cosine folds) otherwise runs that pass on the
    * checkpoint's 1-2 partitions while the rest of the machine idles
    * (the finding-7 byte-vs-compute mismatch, here on the staged-read
    * path). getNumPartitions on a materialized frame is metadata — no
    * job — so the guard is free, and at scale a checkpoint already holds
    * >= parallelism partitions and this is a no-op. Only for frames a
    * [[Stager]] returned: on an unstaged frame the partition count can
    * run the upstream pipeline's jobs. */
  def spreadStaged(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** MinHash-LSH near-duplicate pairs, signature-ESTIMATED: candidates from
    * banding, similarity estimated as the fraction of agreeing signature
    * components (an unbiased estimator of Jaccard — Broder 1997). Output
    * (id_a, id_b, est_jaccard), id_a < id_b.
    *
    * This is the single-scan 100 TB shape: [[nearDupPairsMinhash]] verifies
    * candidates against exact shingle sets, which costs a second corpus
    * pass (tokenize + shingle the candidate docs again); here the verify
    * reads ONLY the already-staged signature frame (numHashes longs per
    * doc), so the whole operator is one corpus scan + joins over small
    * frames. The price is resolution: the estimate is quantized to
    * 1/numHashes (8 hashes → eighths) with stderr ≈ sqrt(j(1-j)/numHashes),
    * so thresholds between quantization steps behave like the next step up.
    * Use this pass to bulk-drop obvious near-dups cheaply; route
    * borderline bands through the exact-verify variant if the threshold
    * must be sharp. est_jaccard = agree/numHashes is an exact IEEE value
    * for power-of-two numHashes (deterministic across engines). */
  /** Incremental near-dup against a STANDING index — the nightly-batch
    * operating mode a one-shot self-join can't serve: the corpus already
    * deduplicated yesterday keeps its minhash signatures (numHashes longs
    * per doc, built once and persisted/loaded via `indexSignatures`);
    * each incoming batch computes only ITS OWN signatures, joins its band
    * buckets against the index's, and verifies exact Jaccard only for
    * cross pairs. Never old x old (already settled), never new x new
    * (run [[nearDupPairsMinhash]] on the batch for that — batches are
    * small). Output (new_id, index_id, jaccard_sim) — a left-anti on
    * new_id then keeps the batch's genuinely novel documents.
    *
    * 100 TB shape: per batch, work is O(batch) signatures + a bucket join
    * whose index side is ALREADY materialized — the standing corpus is
    * re-scanned only to re-shingle the few candidate index docs (semi-join
    * pushdown), or not at all if callers also persist shingle sets.
    * Hot-bucket cap applies to the INDEX side (the unbounded one): an
    * over-cap bucket keeps its maxBucket lowest-id members — the
    * [[cappedBucketPairs]] recall trade-off, confined to degenerate
    * buckets. Same banding/hash scheme as [[nearDupPairsMinhash]], so
    * signatures interoperate across the two. */
  def nearDupPairsAgainstIndex(newDf: DataFrame, indexDf: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 1,
      threshold: Double = 0.8,
      indexSignatures: Option[DataFrame] = None,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val sigNew = Stager.stage(
      minhashSignature(newDf, idCol, textCol, shingleN, numHashes),
      s"inc_sig_new_$runId")
    val sigIdx = Stager.stage(
      indexSignatures.getOrElse(
        minhashSignature(indexDf, idCol, textCol, shingleN, numHashes)),
      s"inc_sig_idx_$runId")
    def buckets(sig: DataFrame, as: String) = {
      val bands = (0 until numHashes / rowsPerBand).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
        struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("bucket"))
      }
      sig.select(col(idCol).as(as), explode(array(bands: _*)).as("__b"))
        .select(col(as), col("__b.band").as("__band"), col("__b.bucket").as("__bucket"))
    }
    val idxB = buckets(sigIdx, "index_id")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__band"), col("__bucket")).orderBy(col("index_id"))))
      .filter(col("__rn") <= maxBucket)
      .drop("__rn")
    val cands = Stager.stage(
      buckets(sigNew, "new_id").join(idxB, Seq("__band", "__bucket"))
        .select(col("new_id"), col("index_id")).distinct(),
      s"inc_cands_$runId")
    def candSets(src: DataFrame, side: String, out: String) =
      shingleRows(
          src.join(cands.select(col(side).as(idCol)).distinct(), Seq(idCol), "left_semi"),
          idCol, textCol, shingleN)
        .groupBy(col(idCol)).agg(collect_set(col("shingle")).as(out))
        .withColumnRenamed(idCol, side)
    // spread the verify probe off the byte-coalesced staged cands frame
    // (see spreadStaged)
    spreadStaged(cands)
      .join(candSets(newDf, "new_id", "__sa"), "new_id")
      .join(candSets(indexDf, "index_id", "__sb"), "index_id")
      .withColumn("jaccard_sim", jaccard(col("__sa"), col("__sb")))
      .filter(col("jaccard_sim") >= threshold)
      .select("new_id", "index_id", "jaccard_sim")
  }

  def nearDupPairsMinhashEst(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 1,
      threshold: Double = 0.75): DataFrame = {
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // staged for the same reason as the verified variant: the banded
    // self-join references the signatures from several plan branches, and
    // both sides of the estimate join read them again
    val sig = Stager.stage(
      minhashSignature(df, idCol, textCol, shingleN, numHashes),
      s"minhash_est_sig_$runId")
    val cands = lshCandidates(sig, idCol, numHashes, rowsPerBand)
    val hs = 0 until numHashes
    val sa = sig.select(col(idCol).as("id_a") +: hs.map(i => col(s"h$i").as(s"__ha$i")): _*)
    val sb = sig.select(col(idCol).as("id_b") +: hs.map(i => col(s"h$i").as(s"__hb$i")): _*)
    val agree = hs.map(i =>
      when(col(s"__ha$i") === col(s"__hb$i"), 1).otherwise(0)).reduce(_ + _)
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("est_jaccard", agree.cast("double") / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Brute-force n-gram Jaccard pairs (all pairs — O(n²), for tests and
    * small blocks only; the LSH path above is the scale path). */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, shingleN)
    val sa = sets.select(col(idCol).as("id_a"), col("__shingles").as("__sa"))
    val sb = sets.select(col(idCol).as("id_b"), col("__shingles").as("__sb"))
    sa.crossJoin(sb).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard_sim", jaccard(col("__sa"), col("__sb")))
      .filter(col("jaccard_sim") >= threshold)
      .select("id_a", "id_b", "jaccard_sim")
  }

  /** EXACT n-gram Jaccard similarity join via prefix filtering — the
    * AllPairs family (Bayardo, Ma & Srikant, "Scaling Up All Pairs
    * Similarity Search", WWW 2007; the prefix-filter principle behind
    * PPJoin, Xiao et al. 2008). Same output contract as
    * [[jaccardPairsExact]] — every pair with Jaccard >= threshold, NO
    * false negatives — but without the all-pairs cross join, so it runs
    * on a full corpus, not a small block.
    *
    * How: order the shingle universe rarest-first (document frequency asc,
    * shingle asc — any total order is correct; rare-first minimizes
    * candidates). A doc of set size s only needs its first
    * p = s − ⌈t·s⌉ + 1 shingles in that order as join keys: if two docs
    * have Jaccard >= t, their overlap is >= t·max(sa,sb), which cannot fit
    * entirely in both suffixes of size ⌈t·s⌉ − 1 — so they MUST share a
    * prefix shingle (the prefix-filter theorem). Candidates come from an
    * equi-join on prefix shingles with the length filter
    * t·sa <= sb <= sa/t applied in the join condition; survivors verify
    * exact set Jaccard.
    *
    * Threshold arithmetic is integer-exact: t is fixed to micros
    * (tµ = round(t·1e6)) and ⌈t·s⌉ = (s·tµ + 999999) div 1e6, so the
    * prefix length and the final >= t test are bit-identical in any
    * engine — no float-ceil off-by-one can break the no-false-negative
    * guarantee (ceil(0.8·5) in binary64 is 5, not the rational 4).
    *
    * 100 TB shape: one shingle-stream aggregation (sets, staged — read by
    * the df count, the prefix stream and both verify sides), one groupBy
    * for document frequencies, one per-doc window for prefix positions,
    * then an equi-join keyed on prefix shingles. Shuffles carry (id,
    * shingle-hash-sized) rows, never text. Skew: a shingle shared by m
    * doc-prefixes yields m² candidate rows; rare-first ordering pushes
    * prefix shingles toward df=1, and the length filter prunes in-join.
    * For corpora where a template shingle still floods a key, cap with
    * the LSH path ([[nearDupPairsMinhash]]) instead — capping HERE would
    * silently break exactness, which is this operator's contract. */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.8,
      preSets: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold (prefix length diverges at 0)")
    val tMicro = math.round(threshold * 1e6)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // sorted arrays: array_intersect streams them either way, and sorted
    // output keeps the verify stage deterministic for the oracle.
    // preSets: a caller-staged [[prefixShingleSets]] frame shared across
    // similarity passes — skips this pass's own corpus-sized build+stage
    // (shingleN is then unused; it must have been built with
    // the SAME shingleN — requirePreSetsShape rejects the wrong shape).
    preSets.foreach(requirePreSetsShape(_, idCol, "jaccardPairsPrefix"))
    val sets = preSets.getOrElse(Stager.stage(
      prefixShingleSets(df, idCol, textCol, shingleN),
      s"prefix_sets_$runId"))
    val tok = sets.select(col(idCol), col("__sz"), explode(col("__shingles")).as("__g"))
    val dfreq = tok.groupBy(col("__g")).agg(count(lit(1)).as("__dfc"))
    val ranked = tok.join(dfreq, "__g")
      .withColumn("__pos", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__dfc"), col("__g"))))
    val prefix = ranked
      .filter(col("__pos") <=
        col("__sz") - expr(s"(__sz * ${tMicro}L + 999999L) div 1000000L") + 1)
      .select(col(idCol), col("__sz"), col("__g"))
    val cands = prefix.select(col(idCol).as("id_a"), col("__sz").as("__sa"), col("__g"))
      .join(prefix.select(col(idCol).as("id_b"), col("__sz").as("__sb"), col("__g")),
        Seq("__g"))
      .filter(col("id_a") < col("id_b") &&
        col("__sb") * 1000000L >= col("__sa") * tMicro &&
        col("__sa") * 1000000L >= col("__sb") * tMicro)
      .select(col("id_a"), col("id_b")).distinct()
    val inter = size(array_intersect(col("__xa"), col("__xb"))).cast("long")
    cands
      .join(sets.select(col(idCol).as("id_a"), col("__shingles").as("__xa"),
        col("__sz").as("__va")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__shingles").as("__xb"),
        col("__sz").as("__vb")), "id_b")
      .withColumn("__i", inter)
      .filter(col("__i") * 1000000L >= (col("__va") + col("__vb") - col("__i")) * tMicro)
      .withColumn("jaccard_sim",
        col("__i").cast("double") / (col("__va") + col("__vb") - col("__i")).cast("double"))
      .select("id_a", "id_b", "jaccard_sim")
  }

  /** EXACT containment similarity join: every DIRECTED pair (a, b) with
    * |Sa ∩ Sb| / |Sa| >= threshold, a != b — "a's shingles are mostly
    * inside b". This is the near-SUBSET relation Jaccard structurally
    * misses (a short doc embedded in a templated superset page has high
    * containment but low Jaccard, because the union is dominated by the
    * big side), the signal web-corpus boilerplate/superset dedup needs
    * (the T-overlap/containment variant in the AllPairs line of work).
    * Prefix filter on the
    * CONTAINED side only — containment's required overlap ⌈t·|Sa|⌉
    * depends on a alone, so a needs only its rarest
    * |Sa| − ⌈t·|Sa|⌉ + 1 shingles as join keys, while the container
    * side contributes its FULL posting list (no prefix bound exists for
    * b: the required overlap says nothing about |Sb|'s suffix — the
    * asymmetry is fundamental, not an implementation shortcut). The
    * length filter |Sb| >= t·|Sa| still holds (overlap <= |Sb| and
    * overlap >= ⌈t·|Sa|⌉) and prunes in-join. Exact verify as in
    * [[jaccardPairsPrefix]]; same integer-micros threshold arithmetic;
    * exact duplicates emit both directions by design.
    *
    * 100 TB shape: identical staging to [[jaccardPairsPrefix]] — one
    * staged sets aggregation feeds df counts, the contained-side prefix
    * stream, the container-side postings and both verify sides; all
    * joins are equi-joins on shingles/ids. The container posting list is
    * corpus-sized (the price of containment): df-hot shingles dominate
    * the key volume — pass `maxDf` to cut them. With maxDf = Some(cut),
    * shingles appearing in MORE than `cut` documents are dropped from
    * every set BEFORE the posting join, which bounds each posting list
    * at `cut` entries. This CHANGES THE CONTRACT: thresholds, sizes and
    * the reported containment are then over the FILTERED shingle space
    * (the near-subset relation "a's distinctive shingles are mostly in
    * b"), and a document whose shingles are all template-hot leaves the
    * relation entirely — exactly the template-boilerplate semantics the
    * cut exists for. Default None keeps exact full-space containment;
    * symmetric near-dup wants Jaccard instead. */
  def containmentPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.8,
      maxDf: Option[Long] = None,
      preSets: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    require(maxDf.forall(_ >= 1L), s"maxDf must be >= 1, got $maxDf")
    val tMicro = math.round(threshold * 1e6)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    preSets.foreach(requirePreSetsShape(_, idCol, "containmentPairsPrefix"))
    val sets0 = preSets.getOrElse(Stager.stage(
      prefixShingleSets(df, idCol, textCol, shingleN),
      s"containment_sets_$runId"))
    val tok0 = sets0.select(col(idCol), col("__sz"), explode(col("__shingles")).as("__g"))
    val dfreq = tok0.groupBy(col("__g")).agg(count(lit(1)).as("__dfc"))
    val (sets, tok) = maxDf match {
      case None => (sets0, tok0)
      case Some(cut) =>
        // drop df-hot shingles from every set and recompute sizes; all
        // downstream arithmetic (prefix bound, length filter, verify)
        // then runs in the filtered space
        val sets2 = Stager.stage(
          tok0.join(dfreq.filter(col("__dfc") <= cut).select(col("__g")), Seq("__g"))
            .groupBy(col(idCol))
            .agg(sort_array(collect_list(col("__g"))).as("__shingles"))
            .select(col(idCol), col("__shingles"),
              size(col("__shingles")).cast("long").as("__sz")),
          s"containment_sets_cut_$runId")
        (sets2,
          sets2.select(col(idCol), col("__sz"), explode(col("__shingles")).as("__g")))
    }
    val prefixA = tok.join(dfreq, "__g")
      .withColumn("__pos", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__dfc"), col("__g"))))
      .filter(col("__pos") <=
        col("__sz") - expr(s"(__sz * ${tMicro}L + 999999L) div 1000000L") + 1)
      .select(col(idCol).as("id_a"), col("__sz").as("__sa"), col("__g"))
    val cands = prefixA
      .join(tok.select(col(idCol).as("id_b"), col("__sz").as("__sb"), col("__g")),
        Seq("__g"))
      .filter(col("id_a") =!= col("id_b") &&
        col("__sb") * 1000000L >= col("__sa") * tMicro)
      .select(col("id_a"), col("id_b")).distinct()
    cands
      .join(sets.select(col(idCol).as("id_a"), col("__shingles").as("__xa"),
        col("__sz").as("__va")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__shingles").as("__xb")), "id_b")
      .withColumn("__i", size(array_intersect(col("__xa"), col("__xb"))).cast("long"))
      .filter(col("__i") * 1000000L >= col("__va") * tMicro)
      .withColumn("containment",
        col("__i").cast("double") / col("__va").cast("double"))
      .select("id_a", "id_b", "containment")
  }

  /** EXACT edit-distance similarity join: every pair (a, b), a < b, with
    * levenshtein(sa, sb) <= maxDist — without the cross join. This is the
    * string-edit counterpart of [[jaccardPairsPrefix]] and the tool for
    * typo-level near-dup (OCR noise, template fill-ins, URL/key variants)
    * that token-set Jaccard structurally misses: one character edit
    * changes at most one word token, so it barely moves an edit distance
    * but can rewrite a whole shingle.
    *
    * How (PassJoin, Li/Deng/Feng ICDE 2011 segment filtering): split each
    * indexed string into d+1 even segments. d edits cannot touch all d+1
    * segments, so for any pair within distance d at least one segment of
    * the indexed side appears VERBATIM in the other string, at a start
    * shifted by at most d (only the <= d net indels before it move it).
    * Candidates therefore come from an equi-join of indexed segments
    * (segIdx, indexLen, substring) against the other side's enumerated
    * substrings of the matching segment length at starts within +-d of
    * the segment position — a constant (<= (2d+1)^2 (d+1)) probe fan-out
    * per string, no frequency statistics needed. Survivors verify with
    * Spark's banded levenshtein(_, _, threshold) (O(d*len) per pair,
    * codegen'd). A first cut used Ed-Join q-gram prefixes instead;
    * measured on the low-entropy fixture keys it produced 4x the
    * candidates (2.76M vs 688k at sf0.1) and needed two extra shuffles
    * (gram document frequencies + per-string rank window) — segments are
    * strictly more selective because they demand base-length exact runs,
    * not q-char overlaps.
    *
    * Segment scheme (must be identical on both sides): for length L and
    * p = d+1 parts, the first p - (L mod p) segments have length
    * floor(L/p), the rest one more; probes enumerate each assumed index
    * length in [len-d, len+d] since segment boundaries depend on it.
    *
    * Strings shorter than 2(d+1) (segments would shrink under 2 chars)
    * take a separate exact path: any qualifying pair with a short member
    * has BOTH members short (length filter), so the short block
    * self-joins on an exact-length key fanned out +-d — an equi-join on
    * small ints, no constant key, no cross join. The two paths partition
    * pairs by min-length, so the union is exact and duplicate-free.
    *
    * 100 TB shape: segments/probes shuffle as (meta, <=len-char) rows
    * bounded by the constant fan-out — never documents; equi-joins only;
    * no corpus-wide statistics stage. Skew: a segment value shared by m
    * index entries meets its matching probes multiplicatively — inherent
    * to EXACT edit joins on low-entropy keys (the candidates really are
    * that similar); for such corpora lengthen the key or accept the LSH
    * path ([[nearDupPairsMinhash]]) — capping HERE would silently break
    * exactness, which is this operator's contract. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist (0 is exact dedup)")
    val d = maxDist
    val p = d + 1
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // staged: read by the segment index, the probe stream, the short block
    // and both verify sides
    val keys = Stager.stage(
      df.select(col(idCol), col(strCol).cast("string").as("__s"))
        .filter(col("__s").isNotNull)
        .withColumn("__len", length(col("__s")).cast("long")),
      s"edit_keys_$runId")
    val minLong = 2L * p // below this, segments degenerate -> short block
    // seg i of an L-char string: first p - (L mod p) segments get
    // floor(L/p) chars, the rest one more (all integer arithmetic)
    val longK = keys.filter(col("__len") >= minLong)
    val segIdx = longK
      .select(col(idCol).as("id_a"), col("__len").as("__la"), col("__s"),
        explode(sequence(lit(0L), lit(d.toLong))).as("__i"))
      .withColumn("__li",
        expr(s"__la div $p + IF(__i >= $p - __la % $p, 1, 0)"))
      .withColumn("__st",
        expr(s"1 + __i * (__la div $p) + greatest(0L, __i - ($p - __la % $p))"))
      .select(col("id_a"), col("__la"), col("__i"),
        expr("substring(__s, CAST(__st AS INT), CAST(__li AS INT))").as("__seg"))
    val probes = longK
      .select(col(idCol).as("id_b"), col("__len").as("__lb"), col("__s"),
        // assumed INDEX length: within +-d of ours, long-path only
        explode(sequence(greatest(col("__len") - d, lit(minLong)),
          col("__len") + d)).as("__L"))
      .select(col("id_b"), col("__lb"), col("__s"), col("__L"),
        explode(sequence(lit(0L), lit(d.toLong))).as("__i"))
      .withColumn("__li", expr(s"__L div $p + IF(__i >= $p - __L % $p, 1, 0)"))
      .withColumn("__st",
        expr(s"1 + __i * (__L div $p) + greatest(0L, __i - ($p - __L % $p))"))
      .withColumn("__lo", greatest(col("__st") - d, lit(1L)))
      .withColumn("__hi", least(col("__st") + d, col("__lb") - col("__li") + 1))
      .filter(col("__hi") >= col("__lo"))
      .select(col("id_b"), col("__lb"), col("__L"), col("__i"), col("__li"),
        col("__s"), explode(sequence(col("__lo"), col("__hi"))).as("__p"))
      .select(col("id_b"), col("__lb"), col("__L").as("__iL"),
        col("__i").as("__ii"),
        expr("substring(__s, CAST(__p AS INT), CAST(__li AS INT))").as("__isg"))
    val longCands = segIdx
      .join(probes,
        col("__i") === col("__ii") && col("__la") === col("__iL") &&
          col("__seg") === col("__isg"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("__la") - col("__lb")) <= d)
      .select(col("id_a"), col("id_b"))
    // ---- short block: pairs whose SHORTER member has len < minLong; the
    // length filter bounds the longer member, so both live in this frame
    val shortK = keys.filter(col("__len") < minLong + d)
    val shortCands = shortK
      .select(col(idCol).as("id_a"), col("__len").as("__la"),
        explode(sequence(col("__len") - d, col("__len") + d)).as("__k"))
      .join(shortK.select(col(idCol).as("id_b"), col("__len").as("__lb")),
        col("__k") === col("__lb"))
      .filter(col("id_a") < col("id_b") && least(col("__la"), col("__lb")) < minLong)
      .select(col("id_a"), col("id_b"))
    longCands.unionByName(shortCands).distinct()
      .join(keys.select(col(idCol).as("id_a"), col("__s").as("__sa")), "id_a")
      .join(keys.select(col(idCol).as("id_b"), col("__s").as("__sb")), "id_b")
      .withColumn("edit_dist",
        levenshtein(col("__sa"), col("__sb"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0) // banded levenshtein yields -1 above maxDist
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  // ------------------------------------------------------------ SimHash

  /** 64-bit SimHash per document, as a 64-char '0'/'1' string (a bit string
    * avoids signed-long pitfalls and is directly comparable in the oracle).
    * Token hash bits come from the first 16 md5 hex nibbles; each token
    * votes ±1 per bit; the signature bit is 1 iff the vote sum is > 0.
    * One explode + one groupBy with 64 map-side-combinable sums. The hex
    * decode is hoisted into the pre-aggregation projection as four 16-bit
    * words (4 substring+conv per token, not 64) — the per-bit vote is then
    * a cheap shift/mask on an int column inside codegen. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("__t"))
      .filter(col("__t") =!= "") // filter AFTER the explode: no HOF in the generator
      .withColumn("__hx", substring(md5(col("__t")), 1, 16))
    val words = (0 until 4).map { w =>
      conv(substring(col("__hx"), w * 4 + 1, 4), 16, 10).cast("int").as(s"__w$w")
    }
    val wordToks = toks.select(col(idCol) +: words: _*)
    val votes = (0 until 64).map { j =>
      val bit = shiftright(col(s"__w${j / 16}"), 15 - j % 16).bitwiseAND(lit(1))
      sum(bit * 2 - 1).as(s"__v$j")
    }
    val agg = wordToks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    agg.select(col(idCol),
      concat((0 until 64).map(j =>
        when(col(s"__v$j") > 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
  }

  /** Hamming distance between two equal-length bit strings. */
  def hammingBits(a: Column, b: Column): Column =
    aggregate(
      zip_with(split(a, ""), split(b, ""), (x, y) => when(x =!= y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)

  /** SimHash near-duplicate pairs: block on 4 x 16-bit segments (two docs
    * within hamming distance 3 of each other share at least one intact
    * segment — pigeonhole), verify hamming <= maxHamming. Segments with
    * more than maxBucket members degrade to star pairs
    * ([[cappedBucketPairs]]). */
  def nearDupPairsSimhash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // the banded pair join references its input from three plan branches
    // (occupancy window + both sides); without materialization the whole
    // explode + 64-vote aggregation runs three times (verified: 3 FileScans
    // / 6 HashAggregates / 0 ReusedExchange in the unstaged plan)
    val sig = Stager.stage(simhash64(df, idCol, textCol),
      "simhash_sig_" + java.util.UUID.randomUUID().toString.take(8))
    val segs = sig.select(col(idCol), col("simhash"),
        explode(array((0 until 4).map(s =>
          struct(lit(s).as("seg"), substring(col("simhash"), s * 16 + 1, 16).as("key"))): _*)).as("__s"))
      .select(col(idCol), col("simhash"), col("__s.seg").as("__seg"), col("__s.key").as("__key"))
    cappedBucketPairs(segs, Seq("__seg", "__key"), idCol, Seq("simhash"), maxBucket)
      .select(col("id_a"), col("id_b"),
        hammingBits(col("simhash_a"), col("simhash_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------------ embeddings

  /** Embedding-cosine near-dup pairs at scale: candidates from SRP-LSH
    * sign buckets with 1-flip multi-probe. Every row is indexed under its
    * exact bucket plus all 1-flip neighbor buckets ([[Similarity.probeBuckets]]
    * emits both), and candidates are same-bucket pairs — so any pair whose
    * signatures are within hamming distance 2 meets (both sides carry
    * radius-1 probes). Candidates are then verified by exact cosine >=
    * threshold, so the probe radius only affects recall/fan-out, never
    * precision. Buckets over maxBucket members degrade to star pairs
    * ([[cappedBucketPairs]]). */
  def nearDupPairsEmbeddingLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 8,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // empty corpus -> typed empty pair frame (a pruned-to-nothing input is
    // a normal pipeline event, not an error)
    val dim = Similarity.dimOpt(df, vecCol)
    if (dim.isEmpty) {
      import org.apache.spark.sql.types._
      val idT = df.schema(idCol)
      return df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("id_a", idT.dataType, idT.nullable),
          StructField("id_b", idT.dataType, idT.nullable),
          StructField("cosine", DoubleType, nullable = true))))
    }
    val planes = Similarity.planes(nBits, dim.get)
    // stage BEFORE the probe explode: the nBits plane projections are the
    // expensive part and the pair join's three plan branches would rerun
    // them; the explode itself is cheap string work, and staging pre-explode
    // keeps the materialized footprint at one row per vector, not nBits+1
    val sig = Stager.stage(
      df.select(col(idCol), col(vecCol).as("__v"))
        .withColumn("__n", sqrt(Similarity.normSq(col("__v"))))
        .withColumn("__sig", Similarity.signSignature(col("__v"), planes)),
      "emblsh_sig_" + java.util.UUID.randomUUID().toString.take(8))
    val buckets = sig
      .withColumn("__bucket", explode(Similarity.probeBuckets(col("__sig"), nBits)))
      .drop("__sig")
    cappedBucketPairs(buckets, Seq("__bucket"), idCol, Seq("__v", "__n"), maxBucket)
      .withColumn("cosine", graft.functions.FloatArrayDot.dot(col("__v_a"), col("__v_b"))
        / (col("__n_a") * col("__n_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Embedding-cosine near-duplicate pairs >= threshold. Exact within LSH
    * buckets at scale (Similarity.lshTopK machinery); this brute-force
    * variant is for oracle checks and small blocks. */

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, then mark within-cluster pairs whose cosine >= `eps` as
    * semantic duplicates, keeping the member FARTHEST from its cluster
    * centroid (the paper's keep-low-centroid-similarity rule — outliers
    * carry more training signal than the cluster's redundant core).
    *
    * Exact published semantics, not a greedy loop: doc d is dropped iff
    * some same-cluster doc e has cosine(d, e) >= eps AND e precedes d in
    * the (centroid_sim ASC, id ASC) keep order — the paper's
    * upper-triangle test over the sim matrix, which never re-checks
    * against only-kept docs. Per pair the loser is simply the member with
    * the higher (centroid_sim, id), so the whole pass is one pair join
    * plus one anti-join — no iteration.
    *
    * Clustering: [[Similarity.ivfCentroids]] (md5-lowest corpus rows —
    * deterministic, RNG-free, oracle-reproducible) when `refineIters`=0;
    * `refineIters`>0 runs that many spherical-k-means rounds
    * ([[Similarity.ivfCentroidsRefined]]) for tighter clusters at the
    * cost of driver-reduced float means that no external oracle can
    * reproduce bit-for-bit (the gate pins refineIters=0 for exactly that
    * reason). Zero-norm / non-finite centroids are excluded driver-side —
    * a degenerate centroid would score NULL/NaN against every vector.
    * Assignment is max cosine with ties to the HIGHER cell id (matching
    * the array_sort-reverse rule in Similarity's probe path).
    *
    * Output: (idCol, cluster, centroid_sim, kept) — one row per input row
    * with a usable vector (non-null, non-empty, finite positive norm);
    * degenerate vectors carry no semantic-dup signal and are absent.
    *
    * 100 TB shape: nClusters bounds the all-pairs blocks (the paper runs
    * ~10^5 clusters at web scale so blocks stay ~10^4); clusters over
    * `maxCluster` degrade to star pairs ([[cappedBucketPairs]] — recall
    * trade-off documented there). One shuffle keys the pair join by
    * cluster; the assignment scan is a codegen'd scored-array argmax
    * against broadcast centroid literals — no shuffle, no UDF. */
  /** The shared assignment core of [[semDedup]] and
    * [[assignEmbeddingClusters]]: None when the corpus has no usable
    * centroid (empty / all-degenerate input); otherwise one row per
    * usable vector — (idCol, __v, __n, __cluster, __csim). */
  private def clusterAssignment(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, refineIters: Int): Option[DataFrame] = {
    import graft.functions.FloatArrayDot
    val cents = (if (refineIters > 0)
        Similarity.ivfCentroidsRefined(df, idCol, vecCol, nClusters, refineIters)
      else Similarity.ivfCentroids(df, idCol, vecCol, nClusters))
      .map { case (cid, v) =>
        (cid, v, math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))) }
      .filter { case (_, _, n) => java.lang.Double.isFinite(n) && n > 0 }
    if (cents.isEmpty) return None
    val scoredCells = cents.map { case (cid, c, cn) =>
      val w = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(c.map(lit(_))): _*)
      struct((FloatArrayDot.dot(col("__v"), w) / (col("__n") * lit(cn))).as("s"),
        lit(cid).as("cell"))
    }
    // ascending (s, cell) sort reversed: max cosine, ties to higher cell
    val best = reverse(array_sort(array(scoredCells: _*))).getItem(0)
    Some(df.select(col(idCol), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull && size(col("__v")) > 0)
      .withColumn("__n", sqrt(FloatArrayDot.normSq(col("__v"))))
      // NaN compares LARGER than zero under Spark ordering semantics —
      // an explicit isnan guard, not just __n > 0
      .filter(!isnan(col("__n")) && col("__n") > 0)
      .withColumn("__best", best)
      .select(col(idCol), col("__v"), col("__n"),
        col("__best").getField("cell").as("__cluster"),
        col("__best").getField("s").as("__csim")))
  }

  /** Standalone max-cosine cluster assignment over the md5-sampled (or
    * spherical-k-means-refined) cells of [[semDedup]]'s clustering:
    * (idCol, cluster, centroid_sim), one row per usable vector. The
    * building block for cluster-BALANCED curation — compose with
    * [[Splits.capPerGroup]] on `cluster` for D4-style diversity
    * subsampling (Tirumala et al. 2023), or with any per-group quota /
    * mixture op. Pure projection over one corpus scan — no shuffle, no
    * pair join; callers that consume it more than once stage it. */
  def assignEmbeddingClusters(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 16, refineIters: Int = 0): DataFrame =
    clusterAssignment(df, idCol, vecCol, nClusters, refineIters) match {
      case Some(assigned) =>
        assigned.select(col(idCol), col("__cluster").as("cluster"),
          col("__csim").as("centroid_sim"))
      case None =>
        import org.apache.spark.sql.types._
        val idT = df.schema(idCol)
        df.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(
            StructField(idCol, idT.dataType, idT.nullable),
            StructField("cluster", IntegerType, nullable = false),
            StructField("centroid_sim", DoubleType, nullable = true))))
    }

  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      eps: Double, nClusters: Int = 16, refineIters: Int = 0,
      maxCluster: Int = DefaultMaxBucket): DataFrame = {
    require(!eps.isNaN, "eps must not be NaN")
    import graft.functions.FloatArrayDot
    val assignment = clusterAssignment(df, idCol, vecCol, nClusters, refineIters)
    if (assignment.isEmpty) {
      // empty/degenerate corpus: a typed empty result, not an
      // unresolvable zero-entry scored array (the emptyTopK pattern)
      import org.apache.spark.sql.types._
      val idT = df.schema(idCol)
      return df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField(idCol, idT.dataType, idT.nullable),
          StructField("cluster", IntegerType, nullable = false),
          StructField("centroid_sim", DoubleType, nullable = true),
          StructField("kept", BooleanType, nullable = false))))
    }
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // three consumers (both pair-join sides + the final kept join) would
    // each rerun the nClusters-wide scored argmax — stage the assignment
    val assigned = Stager.stage(assignment.get, s"semdedup_assign_$runId")
    // nClusters join keys bound the pair join's parallelism; spread the
    // per-cluster pair space over enough id-blocks to occupy the cores
    // (scale-adaptive: production nClusters >= parallelism -> spread 1,
    // no replication; see the spreadBlocks note in cappedBucketPairs)
    val spread = math.max(1,
      df.sparkSession.sparkContext.defaultParallelism / math.max(nClusters, 1))
    val pairs = cappedBucketPairs(assigned, Seq("__cluster"), idCol,
        Seq("__v", "__n", "__csim"), maxCluster, spreadBlocks = spread)
      .withColumn("__cos",
        FloatArrayDot.dot(col("__v_a"), col("__v_b")) / (col("__n_a") * col("__n_b")))
      .filter(col("__cos") >= eps)
    // per-pair loser: higher centroid_sim, ties to the higher id (pairs
    // arrive id_a < id_b, so the otherwise-branch IS the higher id)
    val dropped = pairs.select(
      when(col("__csim_a") > col("__csim_b"), col("id_a"))
        .otherwise(col("id_b")).as(idCol)).distinct()
    assigned
      .join(dropped.withColumn("__d", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("__cluster").as("cluster"),
        col("__csim").as("centroid_sim"), col("__d").isNull.as("kept"))
  }

  /** Cross-document duplicate n-gram coverage (the Dolma/RefinedWeb-style
    * "duplicate text mass" signal): per document, how many of its DISTINCT
    * word n-grams also occur in at least one OTHER document, and the
    * fraction they represent. High dup_frac with no single near-dup
    * partner is the boilerplate/template signature that pairwise detectors
    * (MinHash/SimHash above) miss.
    *
    * Output: (idCol, n_grams, n_dup_grams, dup_frac) for every document
    * with >= 1 n-gram (shorter docs are absent — they have no signal).
    * dup_frac is one IEEE division of exact counts — bit-portable.
    *
    * 100 TB shape: grams travel as 60-bit md5 longs, never strings; the
    * corpus-wide gram frequency is one map-side-combinable count shuffled
    * on the gram hash, joined back to the per-doc distinct-gram frame on
    * the same key (no second keying). Collisions at 2^-60 conflate two
    * grams corpus-wide — both engines hash identically, so the gate is
    * unaffected; at 100 TB the expected collision count over ~10^12
    * distinct grams is ~0.4 gram PAIRS — noise well under the signal. */
  /** Exact-substring span removal (the Lee et al. 2022 "Deduplicating
    * Training Data" pass at segment granularity): any CASE-SENSITIVE run
    * of `spanN` tokens that occurs in ≥ `minDocs` distinct documents is
    * boilerplate, and every token covered by such a run is struck from
    * every document; surviving tokens are re-joined with single spaces in
    * order. The segment-granular complement of [[nearDupPairsMinhash]]
    * (doc level) and [[graft.operators.LineDedup]] (line level) for text
    * without line structure.
    *
    * 100 TB shape: two corpus tokenizations (narrow CPU; the raw token
    * stream stays unstaged, the bm25TopK rule) and four O(tokens)
    * shuffles, none of text —
    *  1. tokens by doc for ONE window pass (contiguous index + spanN-1
    *     leads — gram hashes and indexes in the same Window operator),
    *     staged as (id, index, hash) for its two consumers;
    *  2. (gram-hash, doc) distinct + count ≥ minDocs, map-side combined;
    *  3. left-semi of gram starts against the duplicated-hash set (no
    *     broadcast assumption — web-scale boilerplate is itself huge);
    *  4. tokens UNION dup-start markers by doc for the coverage window:
    *     a RANGE frame over the token index (value-based, so marker rows
    *     sharing an index don't distort the spanN distance) marks every
    *     token within spanN-1 of a duplicated start; the rebuild groupBy
    *     rides the same doc partitioning.
    * (Single-node suffix arrays do this with less total work — this is
    * the shape that distributes; the gram-hash shuffles dominate.)
    *
    * Docs shorter than spanN tokens carry no spans and pass through
    * (token-normalized); a fully-boilerplate doc survives with empty text
    * (LineDedup's keep-the-row contract). Output: input columns with
    * `textCol` rewritten (whitespace-normalized) + n_tokens_kept /
    * n_tokens_removed. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      spanN: Int, minDocs: Int = 2): DataFrame = {
    require(spanN >= 2, s"spanN must be >= 2, got $spanN")
    require(minDocs >= 2, s"minDocs must be >= 2 (1 would strike every span), got $minDocs")
    (Seq("n_tokens_kept", "n_tokens_removed") intersect df.columns).foreach(c =>
      throw new IllegalArgumentException(s"output column '$c' already exists in the input"))
    (Seq("__sp_pos", "__sp_tok", "__sp_ix", "__sp_gh", "__sp_side", "__sp_text")
        intersect df.columns).foreach(c =>
      throw new IllegalArgumentException(s"column name '$c' is reserved by removeDuplicateSpans"))
    val id = col(s"`$idCol`")
    val others = df.columns.filterNot(c => c == idCol || c == textCol)

    // case PRESERVED: exact-substring dedup is about exact bytes, and the
    // kept tokens are payload (the slidingWindows convention). The token
    // stream itself stays UNSTAGED on purpose (the bm25TopK rule:
    // materializing a corpus-sized stream costs more than its two scans —
    // gram window + coverage window each re-tokenize, which is narrow CPU).
    val toks = df.select(id,
        posexplode(split(coalesce(col(s"`$textCol`"), lit("")), "\\s+"))
          .as(Seq("__sp_pos", "__sp_tok")))
      .filter(col("__sp_tok") =!= "")
    val w = Window.partitionBy(id).orderBy(col("__sp_pos"))
    val leads = (1 until spanN).map(i => lead(col("__sp_tok"), i).over(w).as(s"__t$i"))
    // one Window operator: contiguous 0-based index + the spanN-1 leads
    val ixed = toks.select(id +: col("__sp_tok") +:
      (row_number().over(w) - 1).as("__sp_ix") +: leads: _*)
    // staged: (id, index, 60-bit hash) — hashes, never text — because it
    // feeds BOTH the duplicated-hash count and the semi-join below;
    // unstaged each consumer would re-tokenize and re-window the corpus
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val gramStarts = Stager.stage(ixed
      .filter(col(s"__t${spanN - 1}").isNotNull)
      .select(id, col("__sp_ix"),
        graft.functions.TextFunctions.md5Hash60(concat_ws(" ",
          col("__sp_tok") +: (1 until spanN).map(i => col(s"__t$i")): _*)).as("__sp_gh")),
      s"span_grams_$runId")
    val dupHashes = gramStarts.select(col("__sp_gh"), id).distinct()
      .groupBy(col("__sp_gh")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs).select(col("__sp_gh"))
    val dupStarts = gramStarts.join(dupHashes, Seq("__sp_gh"), "left_semi")
      .select(id, col("__sp_ix"), lit(1).as("__sp_side"))
    val tokIx = toks.select(id, (row_number().over(w) - 1).as("__sp_ix"),
      col("__sp_tok"))
    val stream = tokIx.withColumn("__sp_side", lit(0))
      .unionByName(dupStarts.withColumn("__sp_tok", lit(null).cast("string")))
    val wc = Window.partitionBy(id).orderBy(col("__sp_ix"))
      .rangeBetween(-(spanN - 1), 0)
    val kept = stream
      .withColumn("__sp_side", max(col("__sp_side")).over(wc))
      .filter(col("__sp_tok").isNotNull && col("__sp_side") === 0)
    val rebuilt = kept.groupBy(id)
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__sp_ix"), col("__sp_tok")))),
          x => x.getField("__sp_tok"))).as("__sp_text"),
        count(lit(1)).cast("int").as("n_tokens_kept"))
    df.withColumn("__sp_pos", graft.functions.TextFunctions.tokenCount(
        coalesce(col(s"`$textCol`"), lit(""))))
      .join(rebuilt, Seq(idCol), "left")
      .select(
        (Seq(id) ++ others.map(c => col(s"`$c`")) :+
          coalesce(col("__sp_text"), lit("")).as(textCol) :+
          coalesce(col("n_tokens_kept"), lit(0)).as("n_tokens_kept") :+
          (col("__sp_pos") - coalesce(col("n_tokens_kept"), lit(0)))
            .cast("int").as("n_tokens_removed")): _*)
  }

  /** Maximal CROSS-DOCUMENT duplicated token-run extents — the exact
    * substring-dedup REPORT of the Lee et al. 2021 family
    * ("Deduplicating Training Data Makes Language Models Better",
    * which finds duplicated substrings corpus-wide with a suffix
    * array): for each document, every maximal run of token positions
    * whose length-`runN` gram also occurs in at least one OTHER
    * document. A maximal marked run [s, e] covers tokens
    * s .. e + runN − 1 (every runN-window inside appears elsewhere),
    * so adjacent/overlapping duplicated grams merge into ONE extent —
    * the planted-passage report [[removeDuplicateSpans]] acts on
    * (that operator rewrites; this one reports, feeding audits and
    * the keep/cut decision). Within-doc-only repetitions do NOT mark
    * (that is [[removeDuplicateSpans]]' minDocs=2-on-(doc,gram)
    * distinction and p44's within-doc span view). Output per extent:
    * (idCol, start_tok, end_tok, n_tokens longs — 0-based token
    * indexes over the whitespace-token stream, inclusive). Docs with
    * fewer than runN tokens carry no grams; NULL ids drop.
    *
    * 100 TB shape (the distributed reformulation of the suffix-array
    * pass — single-node suffix arrays do less total work; this is the
    * shape that scales out): one tokenization, ONE per-doc window pass
    * (contiguous index + runN−1 leads, doc-cardinality keys, frames
    * bounded by tokens-per-doc), a staged (id, index, 60-bit-md5 gram)
    * stream feeding (a) a map-side-combinable min/max-doc aggregation
    * — "≥ 2 distinct docs" as min(id) ≠ max(id), never a COUNT
    * DISTINCT expansion — and (b) a left-semi join of gram starts
    * against the duplicated-hash set (no broadcast assumption:
    * corpus-wide boilerplate is itself huge). The island merge is pure
    * integer arithmetic (index − per-doc rank) plus one
    * doc-partitioned aggregation. Every shuffle carries hashes and
    * integers, never text. */
  def duplicatedRunExtents(df: DataFrame, idCol: String, textCol: String,
      runN: Int): DataFrame = {
    require(runN >= 2, s"runN must be >= 2, got $runN")
    (Seq("__dr_pos", "__dr_tok", "__dr_ix", "__dr_gh", "__dr_isl",
        "start_tok", "end_tok", "n_tokens") intersect df.columns).foreach(c =>
      throw new IllegalArgumentException(
        s"column name '$c' is reserved by duplicatedRunExtents"))
    val id = col(s"`$idCol`")
    val toks = df.filter(id.isNotNull)
      .select(id, posexplode(split(coalesce(col(s"`$textCol`"), lit("")), "\\s+"))
        .as(Seq("__dr_pos", "__dr_tok")))
      .filter(col("__dr_tok") =!= "")
    val w = Window.partitionBy(id).orderBy(col("__dr_pos"))
    val leads = (1 until runN).map(i => lead(col("__dr_tok"), i).over(w).as(s"__t$i"))
    val ixed = toks.select(id +: col("__dr_tok") +:
      (row_number().over(w) - 1).cast("long").as("__dr_ix") +: leads: _*)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // staged: feeds BOTH the duplicated-hash aggregation and the
    // semi-join; unstaged each consumer would re-tokenize the corpus
    val grams = Stager.stage(ixed
      .filter(col(s"__t${runN - 1}").isNotNull)
      .select(id, col("__dr_ix"),
        graft.functions.TextFunctions.md5Hash60(concat_ws(" ",
          col("__dr_tok") +: (1 until runN).map(i => col(s"__t$i")): _*))
          .as("__dr_gh")),
      s"dup_runs_$runId")
    val dupHashes = grams.groupBy(col("__dr_gh"))
      .agg(min(id).as("__mn"), max(id).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("__dr_gh"))
    val marked = grams.join(dupHashes, Seq("__dr_gh"), "left_semi")
    val wi = Window.partitionBy(id).orderBy(col("__dr_ix"))
    marked
      .withColumn("__dr_isl", col("__dr_ix") - row_number().over(wi))
      .groupBy(id, col("__dr_isl"))
      .agg(min(col("__dr_ix")).as("start_tok"), max(col("__dr_ix")).as("__dr_e"))
      .select(id, col("start_tok"),
        (col("__dr_e") + (runN - 1)).as("end_tok"),
        (col("__dr_e") - col("start_tok") + runN).as("n_tokens"))
  }

  /** Cross-document duplicated-run REMOVAL — the second half of the Lee
    * et al. 2021 exact-substring-dedup pipeline (the half a training-data
    * run actually executes over [[duplicatedRunExtents]]' report): every
    * token covered by a length-`runN` gram that occurs in ≥ 2 DISTINCT
    * documents is struck, under one of two policies:
    *
    *  - `"drop_all"`: covered tokens are cut from EVERY document —
    *    semantically identical to [[removeDuplicateSpans]] with
    *    minDocs = 2 (that operator's "≥2 distinct docs" count is exactly
    *    this min(id) ≠ max(id) test); DedupSpec pins the identity.
    *  - `"keep_one"`: per duplicated gram, the MIN-id document holding it
    *    keeps its copy; only the other holders cut. The decision is
    *    per-gram-start, so a position in the min-id doc still cuts if a
    *    DIFFERENT duplicated gram covering it has an earlier min
    *    elsewhere — deterministic, engine-reproducible, and exactly the
    *    keep-one-copy contract (one surviving copy of every duplicated
    *    passage corpus-wide, survivors chosen by document id).
    *
    * Output: input columns with `textCol` rewritten (kept tokens
    * re-joined with single spaces in order — whitespace-normalized) +
    * n_tokens_kept / n_tokens_removed ints (the [[removeDuplicateSpans]]
    * contract). Docs shorter than runN tokens pass through
    * token-normalized; a fully-duplicated non-min doc survives as a row
    * with empty text. NULL-id rows drop (the [[duplicatedRunExtents]]
    * contract — an id-less doc cannot participate in min-id ownership).
    *
    * 100 TB shape: [[duplicatedRunExtents]]' exact pipeline (one
    * tokenization window pass, staged (id, ix, 60-bit-md5 gram) stream,
    * min/max-doc aggregation — never a COUNT DISTINCT expansion, left
    * join of gram starts against the duplicated-hash set carrying only
    * (hash, min-id)) plus [[removeDuplicateSpans]]' coverage RANGE frame
    * (value-based over the token index) and per-doc rebuild. Every
    * corpus-wide shuffle carries hashes and integers; text bodies move
    * only in the final doc-partitioned rebuild. */
  def removeDuplicatedRuns(df: DataFrame, idCol: String, textCol: String,
      runN: Int, policy: String = "keep_one"): DataFrame = {
    require(runN >= 2, s"runN must be >= 2, got $runN")
    require(policy == "keep_one" || policy == "drop_all",
      s"policy must be 'keep_one' or 'drop_all', got '$policy'")
    (Seq("n_tokens_kept", "n_tokens_removed") intersect df.columns).foreach(c =>
      throw new IllegalArgumentException(s"output column '$c' already exists in the input"))
    (Seq("__rr_pos", "__rr_tok", "__rr_ix", "__rr_gh", "__rr_mn", "__rr_side",
        "__rr_text") intersect df.columns).foreach(c =>
      throw new IllegalArgumentException(
        s"column name '$c' is reserved by removeDuplicatedRuns"))
    val id = col(s"`$idCol`")
    val others = df.columns.filterNot(c => c == idCol || c == textCol)
    val base = df.filter(id.isNotNull)
    // case PRESERVED (exact bytes, the removeDuplicateSpans convention);
    // the token stream stays unstaged — its two scans are narrow CPU
    val toks = base.select(id,
        posexplode(split(coalesce(col(s"`$textCol`"), lit("")), "\\s+"))
          .as(Seq("__rr_pos", "__rr_tok")))
      .filter(col("__rr_tok") =!= "")
    val w = Window.partitionBy(id).orderBy(col("__rr_pos"))
    val leads = (1 until runN).map(i => lead(col("__rr_tok"), i).over(w).as(s"__t$i"))
    val ixed = toks.select(id +: col("__rr_tok") +:
      (row_number().over(w) - 1).cast("long").as("__rr_ix") +: leads: _*)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // staged: feeds BOTH the min/max-doc aggregation and the cut join
    val grams = Stager.stage(ixed
      .filter(col(s"__t${runN - 1}").isNotNull)
      .select(id, col("__rr_ix"),
        graft.functions.TextFunctions.md5Hash60(concat_ws(" ",
          col("__rr_tok") +: (1 until runN).map(i => col(s"__t$i")): _*))
          .as("__rr_gh")),
      s"rm_runs_$runId")
    val dup = grams.groupBy(col("__rr_gh"))
      .agg(min(id).as("__rr_mn"), max(id).as("__rr_mx"))
      .filter(col("__rr_mn") =!= col("__rr_mx"))
      .select(col("__rr_gh"), col("__rr_mn"))
    val markedStarts = grams.join(dup, Seq("__rr_gh"))
    val cutStarts = (if (policy == "keep_one")
        markedStarts.filter(id =!= col("__rr_mn")) else markedStarts)
      .select(id, col("__rr_ix"), lit(1).as("__rr_side"))
    val tokIx = toks.select(id,
      (row_number().over(w) - 1).cast("long").as("__rr_ix"), col("__rr_tok"))
    val stream = tokIx.withColumn("__rr_side", lit(0))
      .unionByName(cutStarts.withColumn("__rr_tok", lit(null).cast("string")))
    // value-based RANGE frame: marker rows share an index with their token
    // row without distorting the runN distance
    val wc = Window.partitionBy(id).orderBy(col("__rr_ix"))
      .rangeBetween(-(runN - 1), 0)
    val kept = stream
      .withColumn("__rr_side", max(col("__rr_side")).over(wc))
      .filter(col("__rr_tok").isNotNull && col("__rr_side") === 0)
    val rebuilt = kept.groupBy(id)
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__rr_ix"), col("__rr_tok")))),
          x => x.getField("__rr_tok"))).as("__rr_text"),
        count(lit(1)).cast("int").as("n_tokens_kept"))
    base.withColumn("__rr_pos", graft.functions.TextFunctions.tokenCount(
        coalesce(col(s"`$textCol`"), lit(""))))
      .join(rebuilt, Seq(idCol), "left")
      .select(
        (Seq(id) ++ others.map(c => col(s"`$c`")) :+
          coalesce(col("__rr_text"), lit("")).as(textCol) :+
          coalesce(col("n_tokens_kept"), lit(0)).as("n_tokens_kept") :+
          (col("__rr_pos") - coalesce(col("n_tokens_kept"), lit(0)))
            .cast("int").as("n_tokens_removed")): _*)
  }

  def dupNgramCoverage(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5): DataFrame = {
    val grams = shingleRows(df, idCol, textCol, shingleN)
      .select(col(idCol), graft.functions.TextFunctions.md5Hash60(col("shingle")).as("__g"))
      .distinct()
    // n_dup_grams = n_grams − n_unique_grams, and a gram with __ndocs == 1
    // is OWNED by its single doc (min id == that doc's id) — so the
    // corpus-sized join of the gram stream back against the per-gram doc
    // counts is unnecessary: the per-gram aggregation carries min(id),
    // unique grams roll up to their owner, and the only join left is
    // id-keyed over per-doc aggregates (null-safe, so an all-NULL-id
    // group keeps the exact semantics of the joined shape).
    val uniq = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__ndocs"), min(col(idCol)).as("__owner"))
      .filter(col("__ndocs") === 1L)
      .groupBy(col("__owner"))
      .agg(count(lit(1)).as("__n_uniq"))
    val tot = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    tot.join(uniq, tot(idCol) <=> uniq("__owner"), "left")
      .withColumn("n_dup_grams",
        col("n_grams") - coalesce(col("__n_uniq"), lit(0L)))
      .withColumn("dup_frac",
        col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
      .select(tot(idCol), col("n_grams"), col("n_dup_grams"), col("dup_frac"))
  }

  /** Corpus-level boilerplate detector: the k most widespread word-n-grams
    * ranked by document frequency (distinct docs containing the gram) —
    * the "strip this template text" list every large-corpus pipeline
    * publishes. Output: (gram, ndocs, rank) with rank 1..k, ordered by
    * (ndocs DESC, gram-hash ASC); the tiebreak is the shared 60-bit md5
    * hash so both engines agree without ever comparing gram strings.
    *
    * 100 TB design: every corpus-wide shuffle carries only (id, hash) or
    * (hash, count) — gram TEXT never enters a shuffle. Per-hash doc counts
    * take one hash-only distinct + groupBy (partial aggregation combines
    * map-side); the k winners come off a TakeOrderedAndProject over that
    * count table; their text is recovered by re-scanning the shingle
    * stream against the BROADCAST k-row winner set (second scan, zero
    * shuffle — cheaper at scale than materializing the text-bearing
    * stream). min(gram) per hash keeps the output deterministic even
    * under a 60-bit collision.
    */
  def boilerplateNgrams(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val grams = shingleRows(df, idCol, textCol, shingleN)
      .select(col(idCol), col("shingle"),
        TextFunctions.md5Hash60(col("shingle")).as("__g"))
    val counts = grams.select(col(idCol), col("__g")).distinct()
      .groupBy(col("__g")).agg(count(lit(1)).as("ndocs"))
    val top = counts.orderBy(col("ndocs").desc, col("__g")).limit(k)
    grams.select(col("__g"), col("shingle"))
      .join(broadcast(top), Seq("__g"))
      .groupBy(col("__g"), col("ndocs"))
      .agg(min(col("shingle")).as("gram"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("ndocs").desc, col("__g"))))
      .select(col("gram"), col("ndocs"), col("rank"))
  }

  /** ALL embedding pairs >= threshold via an O(n^2) cross join — the
    * brute-force REFERENCE for [[nearDupPairsEmbeddingLsh]]'s recall
    * tests, like [[jaccardPairsExact]]. Tests and small blocks only:
    * never run this at corpus scale — use the SRP-LSH variant, which
    * buckets the pair space and verifies candidates exactly. */
  def nearDupPairsEmbedding(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val withNorm = df.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__n", sqrt(Similarity.normSq(col("__v"))))
    val a = withNorm.select(col(idCol).as("id_a"), col("__v").as("__va"), col("__n").as("__na"))
    val b = withNorm.select(col(idCol).as("id_b"), col("__v").as("__vb"), col("__n").as("__nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo 1998, the
    * merge/purge SNM): sort the corpus by a cheap blocking key — here
    * the first `keyLen` chars of the whitespace-collapsed lowered text —
    * slide a `windowSize` window over the sort order, and exactly verify
    * each in-window pair's shingle-set Jaccard against `threshold`
    * (integer-micro arithmetic, the p69 contract). The classic
    * complement to LSH blocking: catches prefix-anchored near-dups
    * (templated headers, versioned titles) at O(n·w) pairs with ONE sort
    * and no signature state. Output (id_a, id_b, jaccard) with id_a the
    * earlier sort neighbor.
    *
    * 100 TB shape: the global sort is a range exchange, and the global
    * CONTIGUOUS rank comes from per-partition row_numbers offset by a
    * broadcast numPartitions-sized count frame (its running-sum window
    * orders numPartitions rows, never data) — NO single-reducer window
    * over the corpus. The w−1 neighbor pairs come from an EQUI-join on
    * rank (explode of 1..w−1), and the verify joins carry shingle sets
    * only for candidate ids. Docs with no shingles (< shingleN tokens)
    * still occupy sort positions but cannot pair — Jaccard is undefined
    * on an empty set. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
      windowSize: Int = 5, shingleN: Int = 3, threshold: Double = 0.5,
      keyLen: Int = 12): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    require(keyLen >= 1, s"keyLen must be >= 1, got $keyLen")
    val id = col(s"`$idCol`")
    val tMicro = math.round(threshold * 1e6)
    val key = substring(
      regexp_replace(lower(coalesce(col(s"`$textCol`"), lit(""))), "\\s+", " "),
      1, keyLen)
    val parted = df.select(id.as("__id"), key.as("__key"))
      .repartitionByRange(col("__key"), col("__id"))
      .withColumn("__pid", spark_partition_id())
    val wp = Window.partitionBy(col("__pid")).orderBy(col("__key"), col("__id"))
    // Staged: both the offset table and the rank rows read this frame, and
    // the offsets MUST be computed over the exact partitioning the row
    // numbers saw — re-evaluating the range exchange per consumer would
    // let a non-deterministic re-split desynchronize the two branches.
    val ranked0 = Stager.stage(
      parted.withColumn("__rn", row_number().over(wp)), "snm_ranked")
    val offsets = ranked0.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(
        Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__pid"), col("__off"))
    val ranked = ranked0.join(broadcast(offsets), Seq("__pid"))
      .select(col("__id"), (col("__off") + col("__rn")).as("__rank"))
    val probe = ranked.select(col("__id").as("id_a"), col("__rank"),
        explode(sequence(lit(1), lit(windowSize - 1))).as("__d"))
      .select(col("id_a"), (col("__rank") + col("__d")).as("__rank_b"))
    val cand = probe.join(
        ranked.select(col("__id").as("id_b"), col("__rank").as("__rank_b")),
        Seq("__rank_b"))
      .select(col("id_a"), col("id_b"))
    val sets = shingleSets(df, idCol, textCol, shingleN)
      .select(col(idCol).as("__sid"), col("__shingles").as("__s"),
        size(col("__shingles")).cast("long").as("__sz"))
    cand
      .join(sets.select(col("__sid").as("id_a"), col("__s").as("__sa"),
        col("__sz").as("__za")), Seq("id_a"))
      .join(sets.select(col("__sid").as("id_b"), col("__s").as("__sb"),
        col("__sz").as("__zb")), Seq("id_b"))
      .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("__u", col("__za") + col("__zb") - col("__i"))
      .filter(col("__i") * 1000000L >= col("__u") * tMicro)
      .select(col("id_a"), col("id_b"),
        round(col("__i").cast("double") / col("__u").cast("double"), 9).as("jaccard"))
  }

  /** Split-document stitch candidates: pairs (A, B) where A's LAST
    * `boundaryLen` characters equal B's FIRST `boundaryLen` characters —
    * the repair signal for documents a crawler/extractor split mid-page
    * (truncated fetches, pagination, chunked dumps whose halves overlap
    * at the cut). Output: (id_a — the suffix side, id_b — the prefix
    * side, boundary — the shared span). Docs shorter than `boundaryLen`
    * (or with NULL text) cannot anchor a boundary and drop out;
    * a.id != b.id (a doc may pair with many candidates — downstream
    * verification owns disambiguation, e.g. via [[jaccardPairsPrefix]]
    * on the concatenation).
    *
    * 100 TB shape: one equi-join on the boundary span (hash shuffle of
    * two boundaryLen-char keys per doc — never text bodies); join
    * fan-out is bounded by per-boundary frequency, and ubiquitous
    * boundaries (boilerplate footers) are exactly the
    * [[boilerplateNgrams]] signal to strip FIRST. */
  def boundaryStitchPairs(df: DataFrame, idCol: String, textCol: String,
      boundaryLen: Int = 40): DataFrame = {
    require(boundaryLen >= 1, s"boundaryLen must be >= 1, got $boundaryLen")
    val id = col(s"`$idCol`")
    val txt = col(s"`$textCol`")
    val eligible = df
      .filter(txt.isNotNull && length(txt) >= boundaryLen)
    val sufs = eligible.select(id.as("id_a"),
      substring(txt, -boundaryLen, boundaryLen).as("boundary"))
    val pres = eligible.select(id.as("id_b"),
      substring(txt, 1, boundaryLen).as("__pre"))
    sufs.join(pres, sufs("boundary") === pres("__pre"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("boundary"))
  }

  /** PARTIAL-duplicate pairs via shared content-defined chunks: document
    * pairs sharing at least `minShared` distinct CDC chunk hashes
    * ([[Packing.cdcChunks]]) — the overlap detector for quotes, syndicated
    * passages, and concatenated/split crawl artifacts that whole-document
    * near-dup (MinHash over the FULL shingle set) dilutes below
    * threshold. Because CDC boundaries are content-local, the shared
    * passage produces byte-identical interior chunks in both documents
    * no matter where it sits. Output: (id_a < id_b, n_shared long).
    *
    * `maxDocsPerChunk` drops chunk hashes present in more than N
    * documents before pairing — ubiquitous boilerplate chunks carry no
    * pairing signal and are exactly the hot keys that would blow up the
    * join (the [[Profile.sourceOverlap]] cap rationale).
    *
    * 100 TB shape: one chunking scan, a distinct over (doc, hash), a
    * hash-frequency cap, then a self-equi-join on the 60-bit hash —
    * hashes shuffle, text never does; per-hash fan-out is bounded by
    * the cap. The staged hash frame feeds the cap count and both join
    * sides. */
  def sharedChunkPairs(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Int = 64, minShared: Int = 2,
      maxDocsPerChunk: Option[Int] = Some(64)): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    maxDocsPerChunk.foreach(c => require(c >= 2,
      s"maxDocsPerChunk must be >= 2, got $c"))
    val hashes = Stager.stage(
      Packing.cdcChunks(df, idCol, textCol, window, divisor)
        .select(col(s"`$idCol`"), col("chunk_hash")).distinct(),
      s"shared_chunks_${java.util.UUID.randomUUID().toString.take(8)}")
    val kept = maxDocsPerChunk match {
      case None => hashes
      case Some(cap) =>
        val ok = hashes.groupBy(col("chunk_hash"))
          .agg(count(lit(1)).as("__nd")).filter(col("__nd") <= cap)
          .select(col("chunk_hash"))
        hashes.join(ok, Seq("chunk_hash"), "left_semi")
    }
    val a = kept.select(col(s"`$idCol`").as("id_a"), col("chunk_hash"))
    val b = kept.select(col(s"`$idCol`").as("id_b"), col("chunk_hash"))
    a.join(b, Seq("chunk_hash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared.toLong)
  }

  /** Explain a set of candidate pairs: per (id_a, id_b), the shingle-set
    * overlap anatomy — (sz_a, sz_b, n_shared, n_only_a, n_only_b longs,
    * jaccard double, containment_a, containment_b doubles — shared/szₓ,
    * i.e. "how much of x lives inside the other"). The triage layer over
    * every pair generator here (LSH candidates, sorted-neighborhood
    * windows, CDC chunk matches): jaccard vs containment separates true
    * near-dups from subset/template relationships before anyone stares
    * at raw text. Pairs where either side has no shingles (< shingleN
    * tokens, NULL text) drop — overlap is undefined on an empty set,
    * the [[sortedNeighborhoodPairs]] convention. Ratios round to 9 dp
    * (the p69 reporting contract).
    *
    * 100 TB shape: two hash equi-joins keyed on pair ids — shingle sets
    * travel ONLY for ids that appear in `pairs`, never corpus-wide; the
    * intersect/size arithmetic is per-row codegen. */
  def pairOverlapProfile(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, shingleN)
      .select(col(idCol).as("__sid"), col("__shingles").as("__s"),
        size(col("__shingles")).cast("long").as("__sz"))
    pairs.select(col("id_a"), col("id_b"))
      .join(sets.select(col("__sid").as("id_a"), col("__s").as("__sa"),
        col("__sz").as("sz_a")), Seq("id_a"))
      .join(sets.select(col("__sid").as("id_b"), col("__s").as("__sb"),
        col("__sz").as("sz_b")), Seq("id_b"))
      .withColumn("n_shared",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"),
        col("n_shared"),
        (col("sz_a") - col("n_shared")).as("n_only_a"),
        (col("sz_b") - col("n_shared")).as("n_only_b"),
        round(col("n_shared").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_shared")).cast("double"), 9)
          .as("jaccard"),
        round(col("n_shared").cast("double") / col("sz_a").cast("double"), 9)
          .as("containment_a"),
        round(col("n_shared").cast("double") / col("sz_b").cast("double"), 9)
          .as("containment_b"))
  }
}
