package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vocabulary construction and token-id encoding (beyond-reference,
  * SURVEY.md §2.4) — the step that turns a curated text corpus into the
  * integer sequences a trainer consumes.
  *
  * 100 TB shape: token counting is ONE map-side-combinable aggregation
  * shuffled on the token; the top-`maxSize` cut is TakeOrderedAndProject
  * (each partition contributes at most maxSize rows to the driver-side
  * merge — never a global sort of all distinct tokens); only the final
  * id-assignment window runs over a single partition, and that frame is
  * bounded by `maxSize` (a vocab-sized constant, not corpus-sized).
  * Encoding broadcasts the vocab and never shuffles the corpus — the one
  * aggregation regroups the token stream by document, which any
  * tokenizer must do.
  */
object Vocab {

  /** Top-`maxSize` whitespace tokens (lowercased) by corpus frequency;
    * ties break lexicographically ascending. Output: (token, token_id,
    * n) with token_id 0-based in (n desc, token asc) order — the most
    * frequent token is id 0. `minCount` prunes the long tail before the
    * cut. */
  def buildVocab(docs: DataFrame, textCol: String,
      maxSize: Int, minCount: Long = 1L): DataFrame = {
    require(maxSize >= 1, s"maxSize must be >= 1, got $maxSize")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val counts = graft.functions.TextFunctions.termStream(docs, Nil, textCol)
      .select(col("__term").as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      // TakeOrderedAndProject: the distributed top-N, not a global sort
      .orderBy(col("n").desc, col("token"))
      .limit(maxSize)
    // id assignment: an unpartitioned window over AT MOST maxSize rows
    counts.withColumn("token_id",
      row_number().over(Window.orderBy(col("n").desc, col("token"))) - lit(1).cast("int"))
      .select(col("token"), col("token_id"), col("n"))
  }

  /** Encode each document as its token-id sequence under `vocab` (a
    * [[buildVocab]] frame, broadcast). Out-of-vocabulary tokens become
    * `oovId`. Output: (idCol, token_ids array<int>, n_tokens, n_oov). */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, oovId: Int = -1): DataFrame = {
    val id = col(s"`$idCol`")
    // positional variant of TextFunctions.termStream (same lowercase/
    // split/empty-drop contract; posexplode because encoding needs the
    // original token order back)
    val toks = docs
      .select(id, posexplode(split(lower(coalesce(col(s"`$textCol`"), lit(""))), "\\s+"))
        .as(Seq("__pos", "__tok")))
      .filter(col("__tok") =!= "")
    toks
      .join(broadcast(vocab.select(col("token").as("__tok"), col("token_id"))),
        Seq("__tok"), "left")
      .withColumn("__id", coalesce(col("token_id"), lit(oovId)))
      .groupBy(id)
      .agg(
        transform(array_sort(collect_list(struct(col("__pos"), col("__id")))),
          x => x.getField("__id")).as("token_ids"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("token_id").isNull, 1L).otherwise(0L)).as("n_oov"))
  }

  /** End-of-word marker (Sennrich et al. 2016): appended to each word's
    * final character so merges can learn word-final subwords and encoded
    * words remain unambiguously re-joinable. */
  val EndOfWord = "</w>"

  /** Distributed BPE merge training (Sennrich, Haddow & Birch 2016,
    * "Neural Machine Translation of Rare Words with Subword Units").
    *
    * Returns the learned merge table: (rank int, left string, right
    * string, pair_count long) — rank 0 is the first (most frequent)
    * merge. Deterministic: the winning pair each round is (count DESC,
    * left ASC, right ASC); ties cannot depend on partitioning.
    *
    * 100 TB shape — the standard word-vocabulary formulation every
    * production tokenizer trainer uses: the corpus is scanned ONCE into
    * (word, count) — a map-side-combinable aggregation — and the merge
    * loop then runs entirely on that vocab-sized frame (distinct words,
    * not corpus tokens). Per round: one pair-count aggregation
    * (explode of adjacent symbol pairs weighted by word count), a 1-ROW
    * driver collect (the argmax pair — the only driver data, numMerges
    * rows total), and one HOF rewrite of the symbol arrays (a left-to-
    * right non-overlapping fold via `aggregate`, codegen'd — no UDF).
    * Rounds stage through [[Stager.Rounds]] with round k−1
    * released when round k materializes (the [[Graphs.pagerank]] rule:
    * two live snapshots, not O(numMerges)).
    *
    * Stops early when no pair reaches `minPairCount` (emitting fewer
    * than numMerges rules is the correct outcome on tiny corpora).
    *
    * `maxWords` bounds the loop frame to the top-N words by count
    * (TakeOrderedAndProject, never a global sort): at web scale the
    * distinct-word tail is enormous (typos, ids, URLs) while the top
    * ~10^6 words carry essentially all pair mass — capping is what
    * production trainers do, and it makes every merge round an
    * aggregation over a BOUNDED frame regardless of corpus size. */
  def bpeMerges(docs: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L,
      maxWords: Int = 1000000): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    // one corpus scan: word counts, then chars + </w> on the last
    // split("") can emit a trailing "" under limit -1 semantics — filter
    // it so the end-of-word marker fuses onto the REAL last character
    val chars = filter(split(col("__term"), ""), s => s =!= lit(""))
    bpeMergeLoop(docs.sparkSession,
      cappedWordCounts(docs, textCol, maxWords)
        .select(col("__n"),
          transform(chars,
            (s, i) => when(i === size(chars) - 1,
              concat(s, lit(EndOfWord))).otherwise(s)).as("__syms")),
      numMerges, minPairCount)
  }

  /** BYTE-level BPE merge training (the GPT-2 tokenizer family, Radford
    * et al. 2019: merges learned over the UTF-8 byte inventory, so ANY
    * string — any script, emoji, binary-ish junk — tokenizes with zero
    * OOV and a 256-symbol base alphabet). Same contract and machinery as
    * [[bpeMerges]] — the ONLY difference is the initial symbolization:
    * each word becomes its UTF-8 bytes rendered as fixed-width
    * uppercase-hex pairs (the engine-portable analogue of GPT-2's
    * bytes→unicode remap; "é" is `C3 A9`, so a learned merge `C3A9` IS
    * the multi-byte character), with [[EndOfWord]] fused onto the final
    * byte. Merged symbols concatenate hex strings, so any merge row is
    * decodable back to bytes by peeling 2-hex-digit chunks.
    *
    * 100 TB shape: identical to [[bpeMerges]] — one capped word-count
    * scan, then vocab-sized merge rounds with 1-row driver argmaxes; the
    * byte split is `hex()` + fixed-stride substrings, all codegen'd. */
  def bpeMergesBytes(docs: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L,
      maxWords: Int = 1000000): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    bpeMergeLoop(docs.sparkSession,
      cappedWordCounts(docs, textCol, maxWords)
        .select(col("__n"), byteSyms(col("__term")).as("__syms")),
      numMerges, minPairCount)
  }

  /** UTF-8 bytes of a string as uppercase 2-hex-digit symbols, EndOfWord
    * fused onto the last byte. `hex()` of a string hashes nothing — it is
    * the raw byte spelling, and `octet_length` counts the same bytes. */
  private def byteSyms(term: Column): Column = {
    val hx = hex(term)
    val n = octet_length(term)
    transform(sequence(lit(1), n), i =>
      when(i === n,
        concat(substring(hx, (i - 1) * 2 + 1, lit(2)), lit(EndOfWord)))
        .otherwise(substring(hx, (i - 1) * 2 + 1, lit(2))))
  }

  /** The shared one-scan (word, count) head both BPE flavors train on:
    * top-`maxWords` terms by (count DESC, term) — TakeOrderedAndProject,
    * never a global sort. */
  private def cappedWordCounts(docs: DataFrame, textCol: String,
      maxWords: Int): DataFrame =
    graft.functions.TextFunctions.termStream(docs, Nil, textCol)
      .groupBy(col("__term")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__term"))
      .limit(maxWords)

  /** Unsigned-UTF-8-byte string comparison — EXACTLY Spark's UTF8String
    * binary ordering, which the distributed loop's orderBy(l, r) uses for
    * the argmax tie-break. Java String.compareTo differs for
    * supplementary characters (UTF-16 surrogates sort below U+E000), so
    * the local loop must NOT use the natural ordering. */
  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** The BPE merge loop shared by the char- and byte-level trainers:
    * `words0` is (__n long, __syms array<string>); per round one
    * pair-count aggregation, a 1-row driver argmax, one HOF rewrite —
    * see [[bpeMerges]] for the full 100 TB-shape rationale.
    *
    * When the staged word inventory holds <= [[Scale.DriverLocalMaxRows]]
    * rows it is collected ONCE and the rounds run on the driver — the merge
    * frame is already model-sized (capped by maxWords upstream; 2^16
    * words x ~12 symbol strings is a few MB), and at
    * that size every distributed round is pure job overhead (measured
    * r17: 16 rounds = 49 stages whose LARGEST stage was 163 ms, ~3.1 s
    * of scheduling around ~0.5 s of work). The local loop replays the
    * identical algorithm — same Long pair counts, same
    * (count DESC, left ASC, right ASC) argmax under UTF8 binary order,
    * same left-to-right non-overlapping fold — so the merge table is
    * bit-identical on either path (VocabSpec pins local ≡ distributed);
    * production trainers (HuggingFace, SentencePiece) hold exactly this
    * capped inventory in memory. Above the cutoff the distributed
    * rounds run as before. */
  private def bpeMergeLoop(spark: org.apache.spark.sql.SparkSession,
      words0: DataFrame, numMerges: Int, minPairCount: Long): DataFrame = {
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val rounds = new Stager.Rounds
    var words = rounds.next(words0, s"bpe_words_${runId}_init")
    if (words.count() <= Scale.driverLocalMaxRows(spark)) {
      val rows = words.collect().map(r => (r.getLong(0), r.getSeq[String](1).toArray))
      rounds.release()
      return bpeMergeLoopLocal(spark, rows, numMerges, minPairCount)
    }
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      // adjacent-pair counts weighted by word count; words of one symbol
      // contribute nothing
      val best = words
        .filter(size(col("__syms")) >= 2)
        .select(col("__n"), explode(transform(
          sequence(lit(0), size(col("__syms")) - 2),
          i => struct(element_at(col("__syms"), i + 1).as("l"),
            element_at(col("__syms"), i + 2).as("r")))).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("__n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect() // bounded: exactly one row per round
      best.headOption match {
        case Some(row) if row.getLong(2) >= minPairCount =>
          val (l, r, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((rank, l, r, cnt))
          // left-to-right non-overlapping merge of (l, r) -> l+r: a
          // sequential fold with one pending symbol of state — the merged
          // symbol never re-merges within the same round
          val zero = struct(
            array().cast("array<string>").as("acc"),
            lit(null).cast("string").as("pend"))
          val step = (st: Column, s: Column) =>
            when(st.getField("pend").isNull,
              struct(st.getField("acc").as("acc"), s.as("pend")))
            .when(st.getField("pend") === lit(l) && s === lit(r),
              struct(concat(st.getField("acc"), array(lit(l + r))).as("acc"),
                lit(null).cast("string").as("pend")))
            .otherwise(
              struct(concat(st.getField("acc"), array(st.getField("pend"))).as("acc"),
                s.as("pend")))
          val fin = (st: Column) =>
            when(st.getField("pend").isNull, st.getField("acc"))
              .otherwise(concat(st.getField("acc"), array(st.getField("pend"))))
          words = rounds.next(
            words.select(col("__n"),
              aggregate(col("__syms"), zero, step, fin).as("__syms")),
            s"bpe_words_${runId}_$rank")
          rank += 1
        case _ => exhausted = true
      }
    }
    rounds.release()
    mergesToDf(spark, merges.toSeq)
  }

  private def mergesToDf(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      merges.map { case (rk, l, r, c) =>
        org.apache.spark.sql.Row(rk, l, r, c) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("left",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("right",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("pair_count",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Driver-side merge rounds over the collected (count, symbols) array —
    * value-identical to the distributed loop by construction (same
    * counts, same argmax order, same fold; see [[bpeMergeLoop]]). */
  private def bpeMergeLoopLocal(spark: org.apache.spark.sql.SparkSession,
      words0: Array[(Long, Array[String])], numMerges: Int,
      minPairCount: Long): DataFrame = {
    var words = words0
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (n, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + n)
          i += 1
        }
      }
      // argmax by (count DESC, left ASC, right ASC) under UTF8 binary
      // order — the distributed orderBy's exact comparator
      var best: ((String, String), Long) = null
      cnt.foreach { kv =>
        if (best == null || kv._2 > best._2 ||
          (kv._2 == best._2 && (utf8Lt(kv._1._1, best._1._1) ||
            (kv._1._1 == best._1._1 && utf8Lt(kv._1._2, best._1._2)))))
          best = kv
      }
      if (best == null || best._2 < minPairCount) exhausted = true
      else {
        val ((l, r), c) = best
        merges += ((rank, l, r, c))
        val lr = l + r
        words = words.map { case (n, syms) =>
          if (syms.length < 2) (n, syms)
          else {
            // left-to-right non-overlapping merge with one pending symbol
            // of state — the distributed fold, verbatim
            val acc = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var pend: String = null
            syms.foreach { s =>
              if (pend == null) pend = s
              else if (pend == l && s == r) { acc += lr; pend = null }
              else { acc += pend; pend = s }
            }
            if (pend != null) acc += pend
            (n, acc.toArray)
          }
        }
        rank += 1
      }
    }
    mergesToDf(spark, merges.toSeq)
  }

  /** Encode each document's words as BPE subword sequences under a
    * [[bpeMerges]] table. Output: (idCol, subwords array<string>,
    * n_subwords int).
    *
    * Applied per partition with the merge ranks broadcast — the ONE
    * deliberate mapPartitions in this codebase: encoding applies up to
    * numMerges sequential rewrites per word, which as nested Catalyst
    * HOFs would build a plan numMerges levels deep (analysis blows up
    * long before real vocab sizes), while a per-partition JVM loop with
    * a broadcast rank map is exactly how production tokenizers run. No
    * shuffle beyond the final per-doc regroup any tokenizer needs. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = docs.sparkSession
    val rankOf: Map[(String, String), Int] = merges
      .select(col("left"), col("right"), col("rank"))
      .collect() // bounded: the merge table (numMerges rows)
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    val bc = spark.sparkContext.broadcast(rankOf)
    // local copy: referencing object members from the task closure would
    // capture (non-serializable) outer object state
    val eow = EndOfWord
    def encodeWord(w: String, ranks: Map[(String, String), Int]): Seq[String] = {
      var syms = w.toCharArray.map(_.toString).toVector
      if (syms.nonEmpty) syms = syms.init :+ (syms.last + eow)
      var done = false
      while (!done && syms.size >= 2) {
        // lowest-rank adjacent pair merges first (tokenizer contract)
        val cand = syms.indices.dropRight(1)
          .flatMap(i => ranks.get((syms(i), syms(i + 1))).map(rk => (rk, i)))
        if (cand.isEmpty) done = true
        else {
          val (_, i) = cand.minBy { case (rk, i) => (rk, i) }
          syms = (syms.take(i) :+ (syms(i) + syms(i + 1))) ++ syms.drop(i + 2)
        }
      }
      syms
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      docs.schema(idCol),
      org.apache.spark.sql.types.StructField("subwords",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false)),
      org.apache.spark.sql.types.StructField("n_subwords",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    docs.select(col(s"`$idCol`"), col(s"`$textCol`")).mapPartitions { it =>
      val ranks = bc.value
      it.map { row =>
        val text = if (row.isNullAt(1)) "" else row.getString(1)
        // Locale.ROOT: match Spark's locale-independent lower() that built
        // the merge/piece tables (default-locale lowercase diverges under tr_TR)
        val words = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
        val subs = words.flatMap(w => encodeWord(w, ranks)).toSeq
        Row(row.get(0), subs, subs.size)
      }
    }(enc)
  }

  /** Encode each document's words as BYTE-level BPE subword sequences
    * under a [[bpeMergesBytes]] table — subwords are concatenated
    * uppercase-hex byte pairs (+ [[EndOfWord]] on word-final symbols),
    * the same spelling the trainer emits. Output: (idCol, subwords
    * array<string>, n_subwords int). Same broadcast-ranks mapPartitions
    * shape as [[bpeEncode]] (and the same zero-OOV property: every
    * byte is in the base alphabet, so any string encodes). */
  def bpeEncodeBytes(docs: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = docs.sparkSession
    val rankOf: Map[(String, String), Int] = merges
      .select(col("left"), col("right"), col("rank"))
      .collect() // bounded: the merge table (numMerges rows)
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    val bc = spark.sparkContext.broadcast(rankOf)
    val eow = EndOfWord
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      docs.schema(idCol),
      org.apache.spark.sql.types.StructField("subwords",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false)),
      org.apache.spark.sql.types.StructField("n_subwords",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    docs.select(col(s"`$idCol`"), col(s"`$textCol`")).mapPartitions { it =>
      val ranks = bc.value
      it.map { row =>
        val text = if (row.isNullAt(1)) "" else row.getString(1)
        val words = text.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").filter(_.nonEmpty)
        val subs = words.flatMap { w =>
          var syms = w.getBytes("UTF-8").map(b => f"${b & 0xff}%02X".intern())
            .toVector: Vector[String]
          if (syms.nonEmpty) syms = syms.init :+ (syms.last + eow)
          var done = false
          while (!done && syms.size >= 2) {
            val cand = syms.indices.dropRight(1)
              .flatMap(i => ranks.get((syms(i), syms(i + 1))).map(rk => (rk, i)))
            if (cand.isEmpty) done = true
            else {
              val (_, i) = cand.minBy { case (rk, j) => (rk, j) }
              syms = (syms.take(i) :+ (syms(i) + syms(i + 1))) ++ syms.drop(i + 2)
            }
          }
          syms
        }.toSeq
        Row(row.get(0), subs, subs.size)
      }
    }(enc)
  }

  // ------------------------------------------------------------ unigram LM

  /** Substring piece vocabulary for the UNIGRAM tokenizer (the Kudo 2018
    * / SentencePiece family): score every within-word character n-gram
    * (1..maxPieceLen chars) by corpus frequency, keep the top-V by
    * (count desc, piece) PLUS every single character (so any word stays
    * segmentable), logp = decimal-rounded ln(count / kept-total). This is
    * SentencePiece's seed-vocabulary stage (substring counting) without
    * the EM prune — deterministic, distributed, and oracle-checkable; the
    * Viterbi encoder ([[unigramEncode]]) consumes ANY (piece, logp)
    * table, so an externally trained vocab drops in unchanged.
    *
    * 100 TB shape: one token stream scan fanned out x(len·maxPieceLen)
    * substring rows (bounded constant per token), one count groupBy, a
    * vocabulary-sized top-V cut. */
  def unigramPieces(docs: DataFrame, textCol: String,
      maxPieceLen: Int = 6, topV: Int = 2000): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(topV >= 1, s"topV must be >= 1, got $topV")
    val counts = graft.functions.TextFunctions.termStream(docs, Nil, textCol)
      .select(col("__term"), explode(sequence(lit(1), length(col("__term")))).as("__i"))
      .select(col("__term"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("__term")) - col("__i") + 1))).as("__l"),
        col("__i"))
      .select(expr("substring(__term, __i, __l)").as("piece"))
      .groupBy(col("piece")).agg(count(lit(1)).as("n"))
    val kept = counts.orderBy(col("n").desc, col("piece")).limit(topV)
      .unionByName(counts.filter(length(col("piece")) === 1))
      .distinct()
    val total = kept.agg(sum(col("n")).as("__tot"))
    kept.crossJoin(broadcast(total)) // 1-row total: a broadcast dim
      .withColumn("logp",
        round(log(col("n").cast("double") / col("__tot").cast("double"))
          .cast("decimal(25,12)"), 9).cast("double"))
      .select(col("piece"), col("n"), col("logp"))
  }

  /** Viterbi subword encoding under a unigram piece LM: per word, the
    * segmentation maximizing the sum of piece logps (exact DP, O(len ·
    * maxPieceLen) per word). Characters absent from the vocabulary score
    * `unkLogp` so every word still segments (char fallback). Ties break
    * toward the LONGER head piece (smallest split point), making the
    * segmentation deterministic. Output: (id, pieces, n_pieces,
    * sum_logp) — sum_logp folds left over words then pieces, so the
    * driver reference in VocabSpec reproduces it exactly.
    *
    * 100 TB shape: the piece table is vocabulary-sized and broadcasts;
    * the encode is one narrow mapPartitions pass, no shuffle. */
  def unigramEncode(docs: DataFrame, idCol: String, textCol: String,
      pieces: DataFrame, unkLogp: Double = -100.0): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = docs.sparkSession
    val table: Map[String, Double] = pieces
      .select(col("piece"), col("logp"))
      .collect() // bounded: the piece vocabulary
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    require(table.nonEmpty, "piece table is empty")
    val maxLen = table.keysIterator.map(_.length).max
    val bc = spark.sparkContext.broadcast(table)
    def encodeWord(w: String, t: Map[String, Double]): Seq[String] = {
      val n = w.length
      val best = Array.fill(n + 1)(Double.NegativeInfinity)
      val back = Array.fill(n + 1)(-1)
      best(0) = 0.0
      var i = 1
      while (i <= n) {
        var j = math.max(0, i - maxLen)
        while (j < i) {
          val piece = w.substring(j, i)
          val lp = t.getOrElse(piece,
            if (piece.length == 1) unkLogp else Double.NegativeInfinity)
          // strict > keeps the SMALLEST j on ties: longer head piece wins
          if (lp != Double.NegativeInfinity && best(j) + lp > best(i)) {
            best(i) = best(j) + lp
            back(i) = j
          }
          j += 1
        }
        i += 1
      }
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var k = n
      while (k > 0) { out.prepend(w.substring(back(k), k)); k = back(k) }
      out.toSeq
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      docs.schema(idCol),
      org.apache.spark.sql.types.StructField("pieces",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false)),
      org.apache.spark.sql.types.StructField("n_pieces",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("sum_logp",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    docs.select(col(s"`$idCol`"), col(s"`$textCol`")).mapPartitions { it =>
      val t = bc.value
      it.map { row =>
        val text = if (row.isNullAt(1)) "" else row.getString(1)
        // Locale.ROOT: match Spark's locale-independent lower() that built
        // the merge/piece tables (default-locale lowercase diverges under tr_TR)
        val words = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
        var score = 0.0
        val subs = words.flatMap { w =>
          val ps = encodeWord(w, t)
          ps.foreach(p => score += t.getOrElse(p, unkLogp))
          ps
        }.toSeq
        Row(row.get(0), subs, subs.size, score)
      }
    }(enc)
  }

  /** Positional piece vocabulary for the WORDPIECE tokenizer (the BERT
    * production tokenizer, Wu et al. 2016): count every within-word
    * character n-gram (1..maxPieceLen chars) SPLIT BY POSITION — a piece
    * starting at a word's first character keeps its surface form, a
    * mid-word piece carries the `##` continuation prefix — and keep the
    * top-V by (count desc, piece). Unlike [[unigramPieces]]' positionless
    * table, the position split is what lets the greedy encoder know
    * whether a match may START a word; and unlike that builder, single
    * characters are NOT force-included — a word that greedy-strands
    * becomes `[UNK]`, the real WordPiece behavior. Output: (piece, n).
    *
    * 100 TB shape: one token stream scan fanned out ×(len·maxPieceLen)
    * substring rows (bounded constant per token), one map-side-combinable
    * count, a vocabulary-sized TakeOrderedAndProject cut. */
  def wordpiecePieces(docs: DataFrame, textCol: String,
      maxPieceLen: Int = 4, topV: Int = 300): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(topV >= 1, s"topV must be >= 1, got $topV")
    graft.functions.TextFunctions.termStream(docs, Nil, textCol)
      .select(col("__term"), explode(sequence(lit(1), length(col("__term")))).as("__i"))
      .select(col("__term"), col("__i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("__term")) - col("__i") + 1))).as("__l"))
      .select(concat(
        when(col("__i") === 1, lit("")).otherwise(lit("##")),
        expr("substring(__term, __i, __l)")).as("piece"))
      .groupBy(col("piece")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("piece"))
      .limit(topV)
  }

  /** Greedy longest-match-first WordPiece encoding (the BERT tokenizer's
    * word loop): per word, repeatedly take the LONGEST vocabulary piece
    * matching at the current position — surface form at position 0,
    * `##`-prefixed beyond it — and emit `[UNK]` for the WHOLE word when
    * no piece matches at some reached position or the word exceeds
    * `maxWordLen` characters. Greedy is deterministic by construction
    * (the match set at a position is a pure function of (word, pos)), so
    * both engines walk identical segmentations. `pieces` is any (piece)
    * table using the `##` convention — [[wordpiecePieces]] output or an
    * externally trained vocab. Output: (idCol, pieces array<string>,
    * n_pieces int, n_unk int — words that collapsed to `[UNK]`). NULL
    * text encodes as zero words.
    *
    * 100 TB shape: the piece table is vocabulary-sized and broadcasts
    * as a length-bucketed hash set; the encode is one narrow
    * mapPartitions pass, no shuffle (the [[unigramEncode]] posture). */
  def wordpieceEncode(docs: DataFrame, idCol: String, textCol: String,
      pieces: DataFrame, unkToken: String = "[UNK]",
      maxWordLen: Int = 100): DataFrame = {
    import org.apache.spark.sql.Row
    require(maxWordLen >= 1, s"maxWordLen must be >= 1, got $maxWordLen")
    val spark = docs.sparkSession
    val table: Set[String] = pieces.select(col("piece"))
      .collect() // bounded: the piece vocabulary
      .map(_.getString(0)).toSet
    // an EMPTY vocabulary is a valid degenerate (empty training corpus):
    // greedy strands at position 0 of every word, so everything is [UNK]
    val maxLen = if (table.isEmpty) 0 else table.iterator.map(_.length).max
    val bc = spark.sparkContext.broadcast(table)
    def encodeWord(w: String, t: Set[String]): Option[Seq[String]] = {
      if (w.length > maxWordLen) return None
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var p = 0
      while (p < w.length) {
        var l = math.min(maxLen, w.length - p)
        var hit: String = null
        while (l >= 1 && hit == null) {
          val cand =
            if (p == 0) w.substring(0, l) else "##" + w.substring(p, p + l)
          if (t.contains(cand)) hit = cand else l -= 1
        }
        if (hit == null) return None
        out += hit
        p += l
      }
      Some(out.toSeq)
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      docs.schema(idCol),
      org.apache.spark.sql.types.StructField("pieces",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false)),
      org.apache.spark.sql.types.StructField("n_pieces",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_unk",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    docs.select(col(s"`$idCol`"), col(s"`$textCol`")).mapPartitions { it =>
      val t = bc.value
      it.map { row =>
        val text = if (row.isNullAt(1)) "" else row.getString(1)
        // Locale.ROOT lower: the termStream contract that built the table
        val words = text.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").filter(_.nonEmpty)
        var unk = 0
        val subs = words.flatMap { w =>
          encodeWord(w, t) match {
            case Some(ps) => ps
            case None => unk += 1; Seq(unkToken)
          }
        }.toSeq
        Row(row.get(0), subs, subs.size, unk)
      }
    }(enc)
  }

  /** Tokenizer fertility & OOV audit per group — the health report run
    * before committing a tokenizer to a corpus mix: fertility
    * (subword-per-word ratio; a tokenizer mismatched to a language
    * inflates it, burning context window) and the word-level OOV rate
    * under a top-`vocabSize` corpus vocabulary, per language/source.
    * Subwords use the deterministic BPE-ish regex
    * ([[graft.functions.TextFunctions.subwordCount]]); words are the
    * shared termStream contract.
    *
    * Output: (groupCol, n_docs, n_words, n_subwords, n_oov long,
    * fertility, oov_rate double — NULL for a wordless group).
    *
    * 100 TB shape: the vocab is the [[buildVocab]] top-N
    * (TakeOrderedAndProject) broadcast into the term stream; per-doc
    * subword counts are a shuffle-free row expression aggregated
    * map-side; each ratio is ONE IEEE division of exact integers. */
  def fertilityAudit(docs: DataFrame, groupCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val g = col(s"`$groupCol`")
    val vocab = buildVocab(docs, textCol, vocabSize)
    val words = graft.functions.TextFunctions.termStream(docs, Seq(g), textCol)
      .join(broadcast(vocab.select(col("token").as("__term"),
        lit(true).as("__in"))), Seq("__term"), "left")
      .groupBy(g)
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
    val subs = docs.groupBy(g)
      .agg(count(lit(1)).as("n_docs"),
        // explicit null-text guard: size() of a null array yields -1
        // under legacy sizeOfNull, which a coalesce would pass through
        sum(when(col(s"`$textCol`").isNull, 0L)
          .otherwise(graft.functions.TextFunctions.subwordCount(col(s"`$textCol`"))
            .cast("long"))).as("n_subwords"))
    // null-SAFE group join: a NULL group's docs/subwords must line up
    // with its word/OOV counts (plain equality would orphan them into
    // an internally inconsistent report row)
    val wordsR = words.withColumnRenamed(groupCol, "__g2")
    subs.join(wordsR, g <=> col("__g2"), "left")
      .select(g, col("n_docs"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        col("n_subwords"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(col("n_words") > 0L,
          col("n_subwords").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        when(col("n_words") > 0L,
          col("n_oov").cast("double") / col("n_words").cast("double"))
          .as("oov_rate"))
  }

  /** Per-group lexical profile: token volume, distinct types,
    * type–token ratio and hapax-legomena share — the corpus-linguistics
    * vitals that separate organic text (hapax share ~40–60% by Zipf)
    * from templated or generated filler (tiny TTR, near-zero hapax) and
    * from ID-like noise columns (TTR → 1). Per-source, the companion of
    * [[graft.operators.Profile.heapsFit]]'s growth curve: this is the
    * point estimate at the corpus you have. Tokens are lowercased
    * whitespace splits (the shared toks contract). Output per group
    * with ≥ 1 token: (groupCol, n_tokens, n_types, n_hapax longs, ttr,
    * hapax_share doubles — each ONE division of exact integers). NULL
    * groups/texts drop.
    *
    * 100 TB shape: ONE map-side-combinable (group, token) count
    * aggregation, one group rollup — no join, no window; shuffles
    * carry tokens and counters. */
  def lexicalProfile(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val counts = docs.filter(g.isNotNull)
      .select(g.as("__g"),
        explode(split(lower(coalesce(col(s"`$textCol`"), lit(""))), "\\s+"))
          .as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("__g"), col("__t")).agg(count(lit(1)).as("__c"))
    counts.groupBy(col("__g"))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("__g").as(groupCol), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_share"))
  }

  /** Per-group vocabulary-coverage ESTIMATORS — what [[lexicalProfile]]'s
    * point counts cannot say: how much vocabulary the crawl has NOT seen
    * yet. From the frequency-of-frequencies f1 (singletons) and f2
    * (doubletons): Good's sample coverage 1 − f1/N (Good 1953 — the
    * probability the NEXT token is a known type; its complement f1/N is
    * the Good–Turing unseen-mass estimate), and the bias-corrected Chao1
    * lower bound on true richness V + f1(f1−1)/(2(f2+1)) (Chao 1984/87 —
    * defined at f2 = 0, where the classic f1²/2f2 blows up). The
    * keep-crawling signal beside [[graft.operators.Profile.heapsFit]]'s
    * growth exponent: coverage near 1 and chao1 ≈ V says the source is
    * mined out. Tokens are lowercased whitespace splits (the shared toks
    * contract). Output per group with ≥ 1 token: (groupCol, n_tokens,
    * n_types, f1, f2 longs, good_coverage, unseen_mass, chao1 doubles —
    * each a fixed IEEE tree over exact integers). NULL groups/texts drop.
    *
    * 100 TB shape: ONE map-side-combinable (group, token) count
    * aggregation, one group rollup — no join, no window (the
    * [[lexicalProfile]] plan exactly; only the rollup arithmetic
    * differs). */
  def vocabCoverageByGroup(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val counts = docs.filter(g.isNotNull)
      .select(g.as("__g"),
        explode(split(lower(coalesce(col(s"`$textCol`"), lit(""))), "\\s+"))
          .as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("__g"), col("__t")).agg(count(lit(1)).as("__c"))
    counts.groupBy(col("__g"))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("__g").as(groupCol), col("n_tokens"), col("n_types"),
        col("f1"), col("f2"),
        (lit(1.0) - col("f1").cast("double") / col("n_tokens").cast("double"))
          .as("good_coverage"),
        (col("f1").cast("double") / col("n_tokens").cast("double"))
          .as("unseen_mass"),
        (col("n_types").cast("double") +
          (col("f1") * (col("f1") - 1L)).cast("double") /
            (lit(2.0) * (col("f2") + 1L).cast("double"))).as("chao1"))
  }

  /** Overlapping token-window document chunking — the RAG/context-window
    * prep pass: split each document into windows of `chunkTokens`
    * whitespace tokens advancing by stride = chunkTokens − overlapTokens,
    * the standard retrieval-index unit. Chunks are emitted while the
    * previous chunk has not reached the end: nChunks = 1 for docs of ≤
    * chunkTokens tokens, else 1 + ⌈(n − chunkTokens)/stride⌉ — the last
    * chunk ends exactly at the last token (it may be shorter than
    * chunkTokens; it is never pure overlap). Output one row per chunk:
    * (idCol, chunk_id int 0-based, start_tok, end_tok longs — inclusive
    * 0-based token indexes, n_tokens int, textCol — the chunk's tokens
    * re-joined with single spaces, case-preserving). Zero-token docs and
    * NULL ids emit nothing.
    *
    * 100 TB shape: a PURE PROJECTION — one split, one explode of the
    * per-doc chunk-index sequence, one array slice per chunk. No
    * shuffle, no join, no window: chunking distributes embarrassingly
    * and stays inside whole-stage codegen. */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"need 0 <= overlapTokens < chunkTokens, got $overlapTokens")
    val stride = chunkTokens - overlapTokens
    val id = col(s"`$idCol`")
    docs.filter(id.isNotNull)
      .select(id, filter(split(coalesce(col(s"`$textCol`"), lit("")), "\\s+"),
        t => t =!= "").as("__ck_toks"))
      .withColumn("__ck_n", size(col("__ck_toks")).cast("long"))
      .filter(col("__ck_n") > 0L)
      .withColumn("__ck_nc", when(col("__ck_n") <= chunkTokens, lit(1L))
        .otherwise(lit(1L) +
          expr(s"(__ck_n - ${chunkTokens}L + ${stride}L - 1L) div ${stride}L")))
      .select(id, col("__ck_toks"), col("__ck_n"),
        posexplode(expr("sequence(0L, __ck_nc - 1L)"))
          .as(Seq("chunk_id", "__ck_s0")))
      .withColumn("__ck_s", col("chunk_id").cast("long") * stride)
      .select(id, col("chunk_id"),
        col("__ck_s").as("start_tok"),
        least(col("__ck_s") + chunkTokens, col("__ck_n")).minus(1L).as("end_tok"),
        (least(col("__ck_s") + chunkTokens, col("__ck_n")) - col("__ck_s"))
          .cast("int").as("n_tokens"),
        concat_ws(" ", slice(col("__ck_toks"),
          (col("__ck_s") + 1L).cast("int"),
          (least(col("__ck_s") + chunkTokens, col("__ck_n")) - col("__ck_s"))
            .cast("int"))).as(textCol))
  }

  /** Skip-gram training pairs (Mikolov et al. 2013): every
    * (center, context) token pair within `window` positions, both
    * directions, with the positional distance — the word2vec/GloVe
    * co-occurrence stream ([[negativeSamplingTable]] supplies the noise
    * draw, [[subsampleFrequent]] the pre-thinning; together the full
    * embedding-training data pipeline). Output one row per directed
    * pair: (idCol, center_ix long — the center's 0-based token index,
    * center, context strings — lowercased, the training surface,
    * distance int in [1, window]). Docs shorter than 2 tokens and NULL
    * ids emit nothing.
    *
    * 100 TB shape: ONE per-doc window pass (the duplicatedRunExtents
    * lead recipe — `window` leads in one Window operator over
    * doc-bounded frames), then a projection exploding each position's ≤
    * 2·window pairs. No join — the context arrives by lead, never by
    * self-join on the token stream. */
  def skipGramPairs(docs: DataFrame, idCol: String, textCol: String,
      window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val id = col(s"`$idCol`")
    val toks = docs.filter(id.isNotNull)
      .select(id, posexplode(split(lower(coalesce(col(s"`$textCol`"), lit(""))),
        "\\s+")).as(Seq("__sg_pos", "__sg_tok")))
      .filter(col("__sg_tok") =!= "")
    val w = Window.partitionBy(id).orderBy(col("__sg_pos"))
    val leads = (1 to window).map(d => lead(col("__sg_tok"), d).over(w).as(s"__l$d"))
    val ixed = toks.select(id +: col("__sg_tok") +:
      (row_number().over(w) - 1).cast("long").as("__sg_ix") +: leads: _*)
    // each lead d yields BOTH directed pairs (i -> i+d and i+d -> i)
    val pairs = (1 to window).flatMap { d =>
      Seq(
        struct(col("__sg_ix").as("cix"), col("__sg_tok").as("c"),
          col(s"__l$d").as("x"), lit(d).as("dd")),
        struct((col("__sg_ix") + d).as("cix"), col(s"__l$d").as("c"),
          col("__sg_tok").as("x"), lit(d).as("dd")))
    }
    ixed.select(id, explode(array(pairs: _*)).as("__p"))
      .filter(col("__p.c").isNotNull && col("__p.x").isNotNull)
      .select(id, col("__p.cix").as("center_ix"), col("__p.c").as("center"),
        col("__p.x").as("context"), col("__p.dd").as("distance"))
  }

  /** GloVe co-occurrence counts (Pennington et al. 2014): the X matrix
    * over [[skipGramPairs]]' directed pair stream — per (center,
    * context): the raw pair count and the GloVe distance-weighted count
    * Σ 1/distance (nearer context words count more). The third leg of
    * the embedding-training data pipeline ([[subsampleFrequent]] thins,
    * [[negativeSamplingTable]] draws noise, this accumulates the
    * statistics GloVe factorizes). Output: (center, context strings —
    * lowercased, n_pairs long, x_glove double). Output is symmetric on
    * this symmetric window by construction.
    *
    * Exactness: each 1/d term is ONE IEEE division of small exact
    * integers quantized to 9 dp, summed in exact decimal
    * (order-independent); only the decimal→double report cast remains
    * (the p07 rule — REPORT rounds at 9 dp).
    *
    * 100 TB shape: [[skipGramPairs]]' window pass and projection, then
    * ONE map-side-combinable (center, context) aggregation — the
    * pair-vocabulary-sized shuffle any co-occurrence build pays. */
  def cooccurrenceCounts(docs: DataFrame, idCol: String, textCol: String,
      window: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    skipGramPairs(docs, idCol, textCol, window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round((lit(1.0) / col("distance").cast("double"))
          .cast(DecimalType(25, 12)), 9).cast(DecimalType(25, 9)))
          .as("__x"))
      .select(col("center"), col("context"), col("n_pairs"),
        round(col("__x").cast("double")
          .cast(DecimalType(25, 12)), 9).cast("double").as("x_glove"))
  }

  /** fastText character-n-gram subwords (Bojanowski et al. 2017,
    * "Enriching Word Vectors with Subword Information"): per DISTINCT
    * lowercased corpus word, the char n-grams of "<word>" for n in
    * [nMin, nMax] plus the full bracketed word itself, each hashed to a
    * bucket — the subword-embedding lookup table that lets a trained
    * model embed out-of-vocabulary words. Output: (word, subword
    * strings, bucket long in [0, nBuckets)) — one row per (word,
    * distinct subword); the full "<word>" row is always present.
    * Buckets use the shared 60-bit md5 (mod nBuckets), so the table is
    * reproducible anywhere.
    *
    * 100 TB shape: one map-side-combinable distinct over the token
    * stream (vocabulary-sized, not corpus-sized), then a pure
    * projection exploding ≤ Σ_n (len+2−n+1) subwords per word. No
    * join, no window. */
  def fastTextSubwords(docs: DataFrame, textCol: String, nMin: Int = 3,
      nMax: Int = 6, nBuckets: Long = 2097152L): DataFrame = {
    require(nMin >= 1 && nMax >= nMin, s"need 1 <= nMin <= nMax, got ($nMin, $nMax)")
    require(nBuckets >= 1L, s"nBuckets must be >= 1, got $nBuckets")
    val words = docs
      .select(explode(split(lower(coalesce(col(s"`$textCol`"), lit(""))),
        "\\s+")).as("word"))
      .filter(col("word") =!= "").distinct()
      .withColumn("__b", concat(lit("<"), col("word"), lit(">")))
    words
      .select(col("word"), explode(array_distinct(concat(
        flatten(transform(sequence(lit(nMin), lit(nMax)), n =>
          when(length(col("__b")) >= n,
            transform(sequence(lit(1), length(col("__b")) - n + 1),
              s => col("__b").substr(s, n)))
            .otherwise(array().cast("array<string>")))),
        array(col("__b"))))).as("subword"))
      .select(col("word"), col("subword"),
        pmod(graft.functions.TextFunctions.md5Hash60(col("subword")),
          lit(nBuckets)).as("bucket"))
  }

  /** Frequent-word subsampling (Mikolov et al. 2013): drop each
    * OCCURRENCE of a token with corpus frequency ratio f with
    * probability 1 − (sqrt(t/f) + t/f) — the word2vec pass that deletes
    * most "the"s while keeping every rare word, shrinking a training
    * stream 30–50% with no vocabulary loss. The keep draw is a
    * deterministic md5 uniform per (doc, token-index) (the repo's
    * seeded-split machinery — reproducible shards, no RNG state), so
    * the output corpus is a pure function of (input, t, salt).
    *
    * Token bytes are CASE-PRESERVING in the rewritten text (the
    * removeDuplicateSpans convention); frequencies count the LOWERCASED
    * form (the shared toks contract — "The" and "the" are one frequency
    * class). Output: input columns with `textCol` rewritten
    * (whitespace-normalized) + n_tokens_kept / n_tokens_removed ints.
    * NULL-id rows drop (the draw is keyed on the id); docs whose every
    * token survives pass through token-normalized.
    *
    * Exactness: f is ONE division of exact counts; the keep probability
    * sqrt(t/f) + t/f is a fixed IEEE tree; u is an exact 60-bit hash
    * over 2^60 — the comparison u < p is deterministic on both engines.
    *
    * 100 TB shape: one (token) count aggregation (map-side combinable),
    * one token-stream equi-join against the frequency table (NO
    * broadcast assumption — a web-scale vocabulary is itself large), a
    * broadcast 1-row total, and the per-doc rebuild aggregation. Token
    * text enters only the frequency join key and the rebuild — both
    * unavoidable for a stream rewrite. */
  def subsampleFrequent(docs: DataFrame, idCol: String, textCol: String,
      t: Double = 1e-5, salt: String = "subsample"): DataFrame = {
    require(t > 0.0 && t < 1.0, s"t must be in (0,1), got $t")
    (Seq("n_tokens_kept", "n_tokens_removed") intersect docs.columns).foreach(c =>
      throw new IllegalArgumentException(s"output column '$c' already exists in the input"))
    val id = col(s"`$idCol`")
    val others = docs.columns.filterNot(c => c == idCol || c == textCol)
    val base = docs.filter(id.isNotNull)
    val toks = base.select(id,
        posexplode(split(coalesce(col(s"`$textCol`"), lit("")), "\\s+"))
          .as(Seq("__fs_pos", "__fs_tok")))
      .filter(col("__fs_tok") =!= "")
      .withColumn("__fs_ix", row_number().over(
        Window.partitionBy(id).orderBy(col("__fs_pos"))) - 1)
      .withColumn("__fs_key", lower(col("__fs_tok")))
    val freq = toks.groupBy(col("__fs_key")).agg(count(lit(1)).as("__fs_c"))
    val total = freq.agg(sum(col("__fs_c")).as("__fs_n"))
    val kept = toks.join(freq, Seq("__fs_key"))
      .crossJoin(broadcast(total))
      .withColumn("__fs_f",
        col("__fs_c").cast("double") / col("__fs_n").cast("double"))
      .withColumn("__fs_p",
        sqrt(lit(t) / col("__fs_f")) + lit(t) / col("__fs_f"))
      .withColumn("__fs_u",
        Splits.hashValue60(concat(id.cast("string"), lit(":"),
          col("__fs_ix").cast("string")), salt).cast("double") /
          lit(1152921504606846976.0))
      .filter(col("__fs_u") < col("__fs_p"))
    val rebuilt = kept.groupBy(id)
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__fs_ix"), col("__fs_tok")))),
          x => x.getField("__fs_tok"))).as("__fs_text"),
        count(lit(1)).cast("int").as("n_tokens_kept"))
    base.withColumn("__fs_pos", graft.functions.TextFunctions.tokenCount(
        coalesce(col(s"`$textCol`"), lit(""))))
      .join(rebuilt, Seq(idCol), "left")
      .select(
        (Seq(id) ++ others.map(c => col(s"`$c`")) :+
          coalesce(col("__fs_text"), lit("")).as(textCol) :+
          coalesce(col("n_tokens_kept"), lit(0)).as("n_tokens_kept") :+
          (col("__fs_pos") - coalesce(col("n_tokens_kept"), lit(0)))
            .cast("int").as("n_tokens_removed")): _*)
  }

  /** Unigram^(3/4) negative-sampling table (Mikolov et al. 2013,
    * "Distributed Representations of Words and Phrases"): the smoothed
    * noise distribution every word2vec/contrastive trainer draws
    * negatives from — P(term) ∝ count^0.75, flattening Zipf so rare
    * words are sampled often enough to learn. Output per distinct
    * token: (term, count long, weight, prob, cum_prob doubles) with
    * cum_prob the inclusive CDF in (count DESC, term ASC) order — the
    * inverse-CDF lookup key a sampler binary-searches.
    *
    * Exactness: count^(3/4) is computed as sqrt(count · sqrt(count)) —
    * two IEEE-754 correctly-rounded sqrts and one product, bit-identical
    * across engines with NO transcendental rounding contract (pow/exp/ln
    * implementations differ; sqrt may not) — then quantized to 9 dp
    * through DECIMAL(25,12) so weights sum order-independently in exact
    * decimal. prob and cum_prob are each ONE division of decimal-cast
    * exact sums, REPORTED at 9 dp (decimal→double casts can differ 1 ulp
    * across engines — the p07 rule).
    *
    * 100 TB shape: ONE map-side-combinable token count, then the CDF
    * rides [[PrefixSum.withKeyedRunningSums]] (range exchange on the
    * distinct (−count, term) key + broadcast offsets — never a
    * single-reducer global window); the totals row broadcasts. */
  def negativeSamplingTable(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val counts = docs
      .select(explode(split(lower(coalesce(col(s"`$textCol`"), lit(""))),
        "\\s+")).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("__t")).agg(count(lit(1)).as("count"))
    val w = counts
      .withColumn("__w", round(
        sqrt(col("count").cast("double") * sqrt(col("count").cast("double")))
          .cast(DecimalType(25, 12)), 9).cast(DecimalType(25, 9)))
      .withColumn("__negc", -col("count"))
    val cum = PrefixSum.withKeyedRunningSums(
      w, Nil, Seq("__negc", "__t"), Seq("__w"))
    val totals = cum.agg(sum(col("__w")).as("__W"))
    // alias both sides: totals derives from cum, and Spark's self-join
    // dedup would otherwise leave `__w` ambiguous in the final select
    cum.as("__c").crossJoin(broadcast(totals.as("__tt")))
      .select(col("__c.__t").as("term"), col("__c.count").as("count"),
        col("__c.__w").cast("double").as("weight"),
        round((col("__c.__w").cast("double") / col("__tt.__W").cast("double"))
          .cast(DecimalType(25, 12)), 9).cast("double").as("prob"),
        round((col("__c.cum___w").cast("double") / col("__tt.__W").cast("double"))
          .cast(DecimalType(25, 12)), 9).cast("double").as("cum_prob"))
  }

  /** Distinct-n generation-diversity report per group (Li et al. 2016,
    * "A Diversity-Promoting Objective"): for n = 1..maxN, the group's
    * total within-document word n-grams, the DISTINCT n-gram count, and
    * distinct-n = distinct/total — the corpus-level repetitiveness
    * metric ([[graft.operators.Repetition]] scores one document; this
    * scores a SOURCE: a generator caught in a loop floods its group
    * with the same few n-grams and distinct-n collapses). Tokens are
    * the lowercase-whitespace contract; n-grams never span documents.
    * Output per (group, n): (groupCol, n int, n_total, n_distinct
    * longs, distinct_ratio double — one exact-integer division). NULL
    * groups drop; docs shorter than n contribute nothing at that n.
    *
    * 100 TB shape: per n one [[graft.operators.Dedup.shingleRows]]
    * window pass (doc-partitioned); grams shuffle as the shared 60-bit
    * md5 hash, never text (the p27 rule — distinctness is
    * hash-distinctness, identical in the oracle); two
    * map-side-combinable aggregations per n. */
  def distinctNgramsByGroup(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, maxN: Int = 3): DataFrame = {
    require(maxN >= 1 && maxN <= 9, s"maxN must be in [1, 9], got $maxN")
    val g = col(s"`$groupCol`")
    (1 to maxN).map { n =>
      Dedup.shingleRows(docs.filter(g.isNotNull), idCol, textCol, n,
          carryCols = Seq(groupCol))
        .select(g.as("__g"),
          graft.functions.TextFunctions.md5Hash60(col("shingle")).as("__h"))
        .groupBy(col("__g"), col("__h")).agg(count(lit(1)).as("__c"))
        .groupBy(col("__g"))
        .agg(sum(col("__c")).as("n_total"), count(lit(1)).as("n_distinct"))
        .select(col("__g").as(groupCol), lit(n).as("n"),
          col("n_total"), col("n_distinct"),
          (col("n_distinct").cast("double") / col("n_total").cast("double"))
            .as("distinct_ratio"))
    }.reduce(_ unionByName _)
  }
}
