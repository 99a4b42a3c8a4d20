package graft

import graft.functions.TextFunctions.stopwords

/** DuckDB fragments that two or more [[SparkEntry]] oracles share.
  *
  * Each fragment is the one statement of how DuckDB reproduces one Spark
  * behaviour (a tokenizer, an LSH bucket scheme, a PQ encoder, ...), so a
  * fix lands in every gate that uses it. A fragment is a `val`, or a `def`
  * taking the alias, column or constant that varies between its users.
  * CTE fragments start at the CTE name and end at its closing parenthesis
  * (no trailing comma); gates splice them into their `WITH` lists with
  * `${...}`. Fragments are margin-stripped already: a gate's outer
  * `stripMargin` leaves their lines alone.
  */
private[graft] object OracleSql {

  // ------------------------------------------------------------ text

  // Tokenization/shingling must match TextFunctions bit-for-bit:
  // whitespace split, empties dropped, word-3-grams joined by single spaces.
  val toksSql = """list_filter(string_split_regex(text, '\s+'), x -> x != '')"""
  val toksLowerSql = """list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')"""
  def shinglesSql(toks: String) =
    s"""CASE WHEN len($toks) < 3 THEN []::VARCHAR[]
       |     ELSE list_transform(range(1, len($toks)-1),
       |            i -> array_to_string(list_slice($toks, i, i+2), ' ')) END""".stripMargin

  /** Hits of language `l`'s stopwords among a doc's lower-cased tokens. */
  def hitsSql(l: String) =
    s"len(list_filter($toksLowerSql, t -> t IN (" +
      stopwords(l).map(w => s"'$w'").mkString(", ") + ")))"

  /** Token count of a nullable string column `c`, as BIGINT. */
  def tokSql(c: String) =
    s"""CAST(len(list_filter(string_split_regex(COALESCE($c, ''), '\\s+'),
       |  x -> x != '')) AS BIGINT)""".stripMargin

  /** The word n-grams of token list `src`, empty below n tokens. */
  def gramsSql(src: String, n: Int) =
    s"""CASE WHEN len($src) >= $n THEN list_transform(range(1, len($src) - $n + 2),
       |      i -> array_to_string(list_slice($src, i, i + $n - 1), ' '))
       |    ELSE []::VARCHAR[] END""".stripMargin

  /** The eval-pair corpus: odd docs as candidates (`ct`) against the next
    * doc as reference (`rt`), with their 1..maxN-gram lists in `g`
    * (cg<n>, rg<n>). */
  def candRefGramCtes(maxN: Int): String =
    s"""cand AS (SELECT doc_id, $toksLowerSql AS ct FROM documents
       |  WHERE doc_id % 2 = 1),
       |refs AS (SELECT doc_id + 1 AS doc_id, $toksLowerSql AS rt FROM documents),
       |pr AS (SELECT doc_id, ct, rt FROM cand JOIN refs USING (doc_id)),
       |g AS (SELECT doc_id, ct, rt,
       |${(1 to maxN).map(n => s"  ${gramsSql("ct", n)} AS cg$n,\n  ${gramsSql("rt", n)} AS rg$n").mkString(",\n")}
       |  FROM pr)""".stripMargin

  /** Each doc's distinct word-3-gram set, CTE `sh` (doc_id, `col`), from
    * the token lists `toks` of CTE `src`. */
  def shingleSetCte(src: String, col: String): String =
    s"""sh AS (SELECT doc_id, list_distinct(
       |  CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
       |       ELSE list_transform(range(1, len(toks)-1),
       |              i -> array_to_string(list_slice(toks, i, i+2), ' ')) END) AS $col
       |  FROM $src)""".stripMargin

  /** The prefix-filter similarity joins' inputs: shingle sets `f`
    * (doc_id, s, sz), their postings `tok` (doc_id, sz, g) and each
    * shingle's document frequency `dfreq` (g, dfc). */
  val prefixShingleCtes: String =
    s"""t AS (SELECT doc_id, $toksLowerSql AS toks FROM documents),
       |${shingleSetCte("t", "s")},
       |f AS (SELECT doc_id, s, CAST(len(s) AS BIGINT) AS sz FROM sh WHERE len(s) > 0),
       |tok AS (SELECT doc_id, sz, unnest(s) AS g FROM f),
       |dfreq AS (SELECT g, COUNT(*) AS dfc FROM tok GROUP BY g)""".stripMargin

  /** After the contained side's prefixes `prefa`: candidates against the
    * full postings, exact verify and the directed containment >= 0.8. */
  val containmentVerifyTail: String =
    """cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM prefa a JOIN tok b ON a.g = b.g AND a.doc_id != b.doc_id
      |   AND b.sz * 1000000 >= a.sz * 800000),
      |v AS (SELECT id_a, id_b,
      |    CAST(len(list_intersect(fa.s, fb.s)) AS BIGINT) AS i, fa.sz AS sa
      |  FROM cand JOIN f fa ON fa.doc_id = id_a JOIN f fb ON fb.doc_id = id_b)
      |SELECT id_a, id_b, round(i::DOUBLE / sa::DOUBLE, 9) AS containment
      |FROM v WHERE i * 1000000 >= sa * 800000
      |ORDER BY id_a, id_b""".stripMargin

  // MinHash + LSH near-dup pairs (8 hashes, 1-row bands) over word
  // 3-gram shingle sets, Jaccard-verified at 0.8.
  val mhSeeds = 0 until 8

  /** MinHash candidates over the docs of CTE `src`: token lists `toks`,
    * shingle sets `sh`/`shf`, signatures `sig`, `bands` and candidate
    * pairs `cand` (id_a < id_b). */
  def minhashCands(toks: String, src: String): String =
    s"""$toks AS (SELECT doc_id, $toksLowerSql AS toks FROM $src),
       |${shingleSetCte(toks, "shingles")},
       |shf AS (SELECT * FROM sh WHERE len(shingles) > 0),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM shf),
       |h AS (SELECT doc_id, md5(s) AS m FROM ex),
       |sig AS (SELECT doc_id,
       |${mhSeeds.map(i => s"  min(('0x' || substring(m, 1, 14))::BIGINT + $i * ('0x' || substring(m, 17, 14))::BIGINT) AS h$i").mkString(",\n")}
       |  FROM h GROUP BY doc_id),
       |bands AS (
       |${mhSeeds.map(i => s"  SELECT doc_id, $i AS band, md5(h$i::VARCHAR) AS bucket FROM sig").mkString("\n  UNION ALL\n")}
       |),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.doc_id < b.doc_id)""".stripMargin

  /** [[minhashCands]] over the whole corpus — the prefix the
    * estimated-similarity gate p48 shares, which never touches shingle
    * sets after signing. */
  val minhashCandCtes: String = minhashCands("t", "documents")

  /** The p05 pair list: [[minhashCandCtes]] plus the verified `pairs`
    * (id_a, id_b, jaccard_sim >= 0.8) every pair-graph gate builds on. */
  val minhashPairCtes: String =
    s"""$minhashCandCtes,
       |pairs AS (SELECT id_a, id_b,
       |  len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
       |    / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))::DOUBLE
       |    AS jaccard_sim
       |FROM cand JOIN shf sa ON sa.doc_id = id_a JOIN shf sb ON sb.doc_id = id_b
       |WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
       |    / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))::DOUBLE >= 0.8)""".stripMargin

  /** The undirected edges `edges` (ea, eb) of pair CTE `pairs` (id_a,
    * id_b) and their transitive closure `reach` (id, r): the recursive
    * connected-components oracle (quadratic, fine at oracle scale). */
  def pairReachCtes(pairs: String): String =
    s"""edges AS (SELECT id_a AS ea, id_b AS eb FROM $pairs
       |          UNION SELECT id_b, id_a FROM $pairs),
       |reach(id, r) AS (
       |  SELECT ea, eb FROM edges
       |  UNION
       |  SELECT reach.id, edges.eb FROM reach JOIN edges ON reach.r = edges.ea)""".stripMargin

  /** The p05 pair graph's components `assign` (id, cluster_id = min
    * member), for `WITH RECURSIVE`. */
  val componentCtes: String =
    s"""$minhashPairCtes,
       |${pairReachCtes("pairs")},
       |assign AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** The curation funnel's first stages ([[graft.operators.Curation]]):
    * quality `stats`, the docs scoring >= 0.45 `kd`, the canonical id of
    * each exact-duplicate group `canon`, and their rows `cd`. */
  val curateCanonCtes: String =
    s"""stats AS (
       |  SELECT doc_id,
       |    len($toksSql)::DOUBLE AS n_tok,
       |    length(text)::DOUBLE AS n_char,
       |    length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE AS n_alpha,
       |    length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g'))::DOUBLE AS n_punct,
       |    ${hitsSql("en")} AS h_en
       |  FROM documents),
       |kept AS (SELECT doc_id FROM stats
       |  WHERE least(n_tok / 200.0, 1.0) * 0.4
       |    + (CASE WHEN n_char = 0 THEN 0.0 ELSE n_alpha / n_char END) * 0.3
       |    + (CASE WHEN n_tok = 0 THEN 0.0 ELSE h_en / n_tok END) * 0.2
       |    + (1.0 - least((CASE WHEN n_char = 0 THEN 0.0 ELSE n_punct / n_char END) * 5.0, 1.0)) * 0.1
       |    >= 0.45),
       |kd AS (SELECT d.* FROM documents d JOIN kept USING (doc_id)),
       |fp AS (SELECT doc_id, md5(array_to_string($toksLowerSql, ' ')) AS f FROM kd),
       |canon AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
       |cd AS (SELECT kd.* FROM kd JOIN canon USING (doc_id))""".stripMargin

  /** Each doc's distinct word-5-grams `g` (doc_id, gram), their shared
    * 60-bit md5 hashes per doc `dg` (doc_id, gh), and each hash's document
    * frequency `fr` (gh, ndocs). */
  val docGramFreqCtes: String =
    s"""toks AS (SELECT doc_id, $toksLowerSql AS t FROM documents),
       |g AS (SELECT doc_id, unnest(
       |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
       |         ELSE list_transform(range(1, len(t)-3),
       |                i -> array_to_string(list_slice(t, i, i+4), ' ')) END) AS gram
       |  FROM toks),
       |dg AS (SELECT DISTINCT doc_id,
       |    ('0x' || substring(md5(gram), 1, 15))::BIGINT AS gh FROM g),
       |fr AS (SELECT gh, COUNT(*) AS ndocs FROM dg GROUP BY gh)""".stripMargin

  /** Smoothed tf-idf term weights `w` (doc_id, term, w) with idf rounded
    * through DECIMAL(25,12) to 9 places, and each doc's decimal-exact
    * weight norm `nrm`. */
  val tfidfWeightCtes: String =
    s"""toks AS (SELECT doc_id, unnest($toksLowerSql) AS term FROM documents),
       |p AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
       |idf AS (SELECT term,
       |    CAST(ROUND(CAST(ln(n.n / df) AS DECIMAL(25,12)), 9) AS DOUBLE) AS idf
       |  FROM (SELECT term, COUNT(*) AS df FROM p GROUP BY term), n),
       |w AS (SELECT p.doc_id, p.term, p.tf * idf.idf AS w FROM p JOIN idf USING (term)),
       |nrm AS (SELECT doc_id,
       |    sqrt(CAST(SUM(CAST(w*w AS DECIMAL(25,9))) AS DOUBLE)) AS nrm
       |  FROM w GROUP BY doc_id)""".stripMargin

  /** Each document's lower-cased tokens with 1-based positions `tok`
    * (doc_id, pos, tok), and the corpus token counts `cnt`. */
  val posTokCtes: String =
    s"""tok AS (
       |  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS tok
       |  FROM (SELECT doc_id, $toksLowerSql AS tk FROM documents)),
       |cnt AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok)""".stripMargin

  /** The self-trained bigram LM's token stream ([[graft.operators.LmScore]]):
    * [[posTokCtes]], the top-200 vocabulary `voc`, tokens outside it as
    * <unk> in `m`, and each doc's adjacent pairs `b2` (doc_id, w1, w2). */
  val lmBigramCtes: String =
    s"""$posTokCtes,
       |voc AS (SELECT tok FROM (
       |    SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rn FROM cnt) x
       |  WHERE rn <= 200),
       |m AS (SELECT t.doc_id, t.pos,
       |    CASE WHEN v.tok IS NULL THEN '<unk>' ELSE t.tok END AS w
       |  FROM tok t LEFT JOIN voc v USING (tok)),
       |b2 AS (SELECT * FROM (
       |    SELECT doc_id, w AS w1,
       |      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM m) x
       |  WHERE w2 IS NOT NULL)""".stripMargin

  /** After [[lmBigramCtes]]: the add-one-smoothed logp of every bigram,
    * as CTE `name` (doc_id, logp), ln rounded through DECIMAL(25,12) to
    * 9 places. */
  def lmAddOneLogpCte(name: String): String =
    s"""c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM b2 GROUP BY w1, w2),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM b2 GROUP BY w1),
       |vt AS (SELECT COUNT(DISTINCT t) AS v FROM
       |  (SELECT w1 AS t FROM b2 UNION ALL SELECT w2 FROM b2)),
       |$name AS (SELECT b2.doc_id,
       |    CAST(ROUND(CAST(ln((c12.c12 + 1)::DOUBLE / (c1.c1 + vt.v)::DOUBLE)
       |      AS DECIMAL(25,12)), 9) AS DOUBLE) AS logp
       |  FROM b2 JOIN c12 USING (w1, w2) JOIN c1 USING (w1), vt)""".stripMargin

  // ------------------------------------------------------------ eval

  /** The eval gates' synthetic classifier confidence (md5 'conf:' hash of
    * doc_id scaled to [0, 0.5), plus 0.5 for English docs). */
  val synthConfSql: String =
    """(('0x' || substring(md5('conf:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      ::DOUBLE / 1152921504606846976.0) * 0.5 +
      |    (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.0 END)""".stripMargin

  /** A synthetic multiclass prediction `p` against the true lang `l` in
    * `base` (the true lang for 70% of docs by md5 'mc' hash, else 'en'),
    * its cells `cells` (l, p, c) and the per-class totals `bt` (n_true)
    * and `bp` (n_pred). */
  val multiclassCellCtes: String =
    """base AS (SELECT lang AS l,
      |    CASE WHEN (('0x' || substring(md5('mc:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |        ::DOUBLE / 1152921504606846976.0) < 0.7
      |      THEN lang ELSE 'en' END AS p
      |  FROM documents WHERE lang IS NOT NULL AND doc_id IS NOT NULL),
      |cells AS (SELECT l, p, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM base GROUP BY l, p),
      |bt AS (SELECT l AS class, CAST(SUM(c) AS BIGINT) AS n_true
      |  FROM cells GROUP BY l),
      |bp AS (SELECT p AS class, CAST(SUM(c) AS BIGINT) AS n_pred
      |  FROM cells GROUP BY p)""".stripMargin

  /** Docs with a lang as `base` ([[synthConfSql]] as `score`, l = is English). */
  def synthScoredCte(score: String): String =
    s"""base AS (SELECT
       |    $synthConfSql AS $score,
       |    (lang = 'en') AS l FROM documents
       |  WHERE doc_id IS NOT NULL AND lang IS NOT NULL)""".stripMargin

  /** Docs with n_chars and lang as `d` (min(n_chars / 1000, 1) as
    * `score`, l = is English): the calibration gates' synthetic classifier. */
  def lengthScoredCte(score: String): String =
    s"""d AS (SELECT LEAST(n_chars::DOUBLE / 1000.0::DOUBLE,
       |    1.0::DOUBLE) AS $score, (lang = 'en') AS l
       |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL)""".stripMargin

  /** A chat turn's role-order violation `viol` given the previous
    * turn's role `prev`. */
  val chatRoleViolationSql: String =
    """    (role IS NULL
      |     OR (prev IS NULL AND role = 'assistant')
      |     OR (prev IS NOT NULL AND role = 'system')
      |     OR (prev = 'system' AND role = 'assistant')
      |     OR (prev = role)) AS viol""".stripMargin

  /** A preference pair's token counts and whether its sides are
    * identical after trimming. */
  val prefTokenColsSql: String =
    s"""    ${tokSql("chosen")} AS chosen_tokens,
       |    ${tokSql("rejected")} AS rejected_tokens,
       |    trim(COALESCE(chosen, '')) = trim(COALESCE(rejected, ''))
       |      AS identical""".stripMargin

  /** chosen/rejected token-length ratio, rounded to 9 places. */
  val lenRatioSql: String =
    """    CASE WHEN rejected_tokens > 0 THEN
      |      CAST(ROUND(CAST(chosen_tokens::DOUBLE / rejected_tokens::DOUBLE
      |        AS DECIMAL(25,12)), 9) AS DOUBLE) END AS len_ratio""".stripMargin

  // ------------------------------------------------------------ events

  /** The funnel's rank-chained first events per user: events `e` (u, tm,
    * ty, rn), first views `s0`, the first later click `n1` and the first
    * later purchase `n2`, each strictly later in time. */
  val funnelStepCtes: String =
    """e AS (SELECT user_id AS u,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tm, event_type AS ty,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type IN ('view', 'click', 'purchase')),
      |s0 AS (SELECT u, MIN(rn) AS r0, arg_min(tm, rn) AS t0 FROM e
      |  WHERE ty = 'view' GROUP BY u),
      |n1 AS (SELECT e.u, MIN(e.rn) AS r1, arg_min(e.tm, e.rn) AS t1,
      |    MAX(s0.t0) AS t0
      |  FROM e JOIN s0 ON s0.u = e.u
      |  WHERE e.ty = 'click' AND e.rn > s0.r0 AND e.tm > s0.t0
      |  GROUP BY e.u),
      |n2 AS (SELECT e.u, MIN(e.rn) AS r2, arg_min(e.tm, e.rn) AS t2,
      |    MAX(n1.t1) AS t1
      |  FROM e JOIN n1 ON n1.u = e.u
      |  WHERE e.ty = 'purchase' AND e.rn > n1.r1 AND e.tm > n1.t1
      |  GROUP BY e.u)""".stripMargin

  /** Purchase markers `markers` (user_id, mts, marker_value): the right
    * side of the as-of join gates. */
  val purchaseMarkersCte: String =
    """markers AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS mts, MAX(value) AS marker_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)""".stripMargin

  // ------------------------------------------------------------ drift statistics

  /** Per-value counts of two samples `a` and `b` (CTEs with column v):
    * `ca` (v, na), `cb` (v, nb), and their full outer merge `u`. */
  def valueCountMergeCtes(a: String, b: String): String =
    s"""ca AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS na FROM $a GROUP BY v),
       |cb AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS nb FROM $b GROUP BY v),
       |u AS (SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(na, 0) AS na,
       |    COALESCE(nb, 0) AS nb
       |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v)""".stripMargin

  /** n_chars of English (`va`) against other (`vb`) docs, merged per value. */
  val enVsRestCharCountCtes: String =
    s"""va AS (SELECT n_chars AS v FROM documents
       |  WHERE lang = 'en' AND n_chars IS NOT NULL),
       |vb AS (SELECT n_chars AS v FROM documents
       |  WHERE lang != 'en' AND n_chars IS NOT NULL),
       |${valueCountMergeCtes("va", "vb")}""".stripMargin

  /** Per source, n_chars counts of English (`ca`) against other (`cb`)
    * docs, merged per (g, v) into CTE `u` (g, v, na, nb). */
  def enVsRestGroupCountCtes(u: String): String =
    s"""ca AS (SELECT source AS g, n_chars AS v,
       |    CAST(COUNT(*) AS BIGINT) AS na FROM documents
       |  WHERE lang = 'en' AND n_chars IS NOT NULL AND source IS NOT NULL
       |  GROUP BY 1, 2),
       |cb AS (SELECT source AS g, n_chars AS v,
       |    CAST(COUNT(*) AS BIGINT) AS nb FROM documents
       |  WHERE lang != 'en' AND n_chars IS NOT NULL AND source IS NOT NULL
       |  GROUP BY 1, 2),
       |$u AS (SELECT COALESCE(ca.g, cb.g) AS g, COALESCE(ca.v, cb.v) AS v,
       |    COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
       |  FROM ca FULL OUTER JOIN cb ON ca.g = cb.g AND ca.v = cb.v)""".stripMargin

  /** Per source, lang counts of the two md5('<salt>:' || doc_id) halves,
    * merged per (g, v) into `u`, with the halves' totals `t` (g, ta, tb). */
  def halfSplitGroupCountCtes(salt: String): String =
    s"""ca AS (SELECT source AS g, lang AS v,
       |    CAST(COUNT(*) AS BIGINT) AS na FROM documents
       |  WHERE (('0x' || substring(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      % 2) = 0
       |    AND lang IS NOT NULL AND source IS NOT NULL
       |  GROUP BY 1, 2),
       |cb AS (SELECT source AS g, lang AS v,
       |    CAST(COUNT(*) AS BIGINT) AS nb FROM documents
       |  WHERE (('0x' || substring(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      % 2) = 1
       |    AND lang IS NOT NULL AND source IS NOT NULL
       |  GROUP BY 1, 2),
       |u AS (SELECT COALESCE(ca.g, cb.g) AS g, COALESCE(ca.v, cb.v) AS v,
       |    COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
       |  FROM ca FULL OUTER JOIN cb ON ca.g = cb.g AND ca.v = cb.v),
       |t AS (SELECT g, CAST(SUM(na) AS BIGINT) AS ta,
       |    CAST(SUM(nb) AS BIGINT) AS tb FROM u GROUP BY g)""".stripMargin

  /** Mann–Whitney U from the doubled rank sum `r1d` and tie sum `ties`:
    * U of sample a `ua` and its tie-corrected variance `varu`. */
  val mwuVarianceSql: String =
    """    CAST(r1d - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE) / 2.0 AS ua,
      |    (n_a::DOUBLE * n_b::DOUBLE / 12.0) * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
      |      - CAST(ties AS DOUBLE) /
      |        (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1.0)))
      |      AS varu""".stripMargin

  /** The reported Mann–Whitney columns: u_a, u_b, z, rank_biserial. */
  val mwuStatsSql: String =
    """  CASE WHEN n_a > 0 AND n_b > 0 THEN ua END AS u_a,
      |  CASE WHEN n_a > 0 AND n_b > 0 THEN n_a::DOUBLE * n_b::DOUBLE - ua
      |    END AS u_b,
      |  CASE WHEN n_a > 0 AND n_b > 0 AND varu > 0.0 THEN
      |    (ua - n_a::DOUBLE * n_b::DOUBLE / 2.0) / sqrt(varu) END AS z,
      |  CASE WHEN n_a > 0 AND n_b > 0 AND n_a::DOUBLE * n_b::DOUBLE > 0.0 THEN
      |    ua / (n_a::DOUBLE * n_b::DOUBLE) * 2.0 - 1.0 END AS rank_biserial""".stripMargin

  /** The PSI aggregate over eps-clamped shares p, q: n_only_a, n_only_b
    * and psi (each ln9-rounded term summed through DECIMAL(25,9)). */
  val psiAggSql: String =
    """  CAST(SUM(CASE WHEN nb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
      |  CAST(SUM(CASE WHEN na = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
      |  CASE WHEN ta > 0 AND tb > 0 THEN CAST(SUM(CAST((p - q) *
      |    CAST(ROUND(CAST(ln(p / q) AS DECIMAL(25,12)), 9) AS DOUBLE)
      |    AS DECIMAL(25,9))) AS DOUBLE) END AS psi""".stripMargin

  // ------------------------------------------------------------ embeddings

  /** L2 norm of every embedding, as `n` keyed by vec_id (plain double fold). */
  def l2NormCte(name: String): String =
    s"$name AS (SELECT vec_id, sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n FROM embeddings)"

  /** Decimal-exact dot product of query vector `qv` with `e.embedding`,
    * and the decimal-exact embedding norm (bit-identical across engines). */
  val dotSql = "list_sum(list_transform(list_zip(qv, e.embedding), " +
    "x -> CAST(x[1]::DOUBLE * x[2]::DOUBLE AS DECIMAL(38,18))))::DOUBLE"
  val normSql = "sqrt(list_sum(list_transform(embedding, " +
    "x -> CAST(x::DOUBLE * x::DOUBLE AS DECIMAL(38,18))))::DOUBLE)"

  /** Embeddings with their exact norm `e`, and the query set `q`
    * (vec_id < 25) of the exact-cosine gates. */
  val exactQueryCtes: String =
    s"""e AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id < 25)""".stripMargin

  // MMR (k = 5, lambda = 0.6) over a 20-deep `pool` (query_id, neighbor_id,
  // nv, nn, rel, rank): the k-step greedy unrolled — each round one
  // anti-join (drop selected) + one MAX over the selected set's pool-pair
  // sims + one per-query argmax window, ties to the lower pool rank.
  val mmrRounds = (2 to 5).map { r =>
    s"""c$r AS (
       |  SELECT p.query_id, p.rank, p.neighbor_id, p.rel, MAX(ps.sim) AS div
       |  FROM pool p
       |  JOIN ps ON ps.query_id = p.query_id AND ps.ra = p.rank
       |  JOIN sel${r - 1} s ON s.query_id = ps.query_id AND s.rank = ps.rb
       |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} z
       |                    WHERE z.query_id = p.query_id AND z.rank = p.rank)
       |  GROUP BY p.query_id, p.rank, p.neighbor_id, p.rel),
       |s$r AS (
       |  SELECT query_id, neighbor_id, rank, $r AS step,
       |    0.6::DOUBLE * rel - (1::DOUBLE - 0.6::DOUBLE) * div AS score
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY 0.6::DOUBLE * rel - (1::DOUBLE - 0.6::DOUBLE) * div DESC,
       |                   rank) AS rn
       |        FROM c$r) x WHERE rn = 1),
       |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL
       |          SELECT query_id, neighbor_id, rank, step, score FROM s$r)""".stripMargin
  }.mkString(",\n")

  /** After `pool`: the decimal-exact pool-pair sims `ps`, the greedy
    * rounds and the selected top 5 with their MMR scores. */
  val mmrGreedyTail: String =
    s"""ps AS (SELECT a.query_id, a.rank AS ra, b.rank AS rb,
       |    list_sum(list_transform(list_zip(a.nv, b.nv),
       |      x -> CAST(x[1]::DOUBLE * x[2]::DOUBLE AS DECIMAL(38,18))))::DOUBLE
       |      / (a.nn * b.nn) AS sim
       |  FROM pool a JOIN pool b ON a.query_id = b.query_id),
       |s1 AS (
       |  SELECT query_id, neighbor_id, rank, 1 AS step, 0.6::DOUBLE * rel AS score
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY 0.6::DOUBLE * rel DESC, rank) AS rn FROM pool) x
       |  WHERE rn = 1),
       |sel1 AS (SELECT query_id, neighbor_id, rank, step, score FROM s1),
       |$mmrRounds
       |SELECT query_id, neighbor_id, CAST(step AS INT) AS mmr_rank,
       |  round(score, 9) AS mmr_score
       |FROM sel5 ORDER BY query_id, mmr_rank""".stripMargin

  /** SemDedup's inputs: embeddings with their norm `valid`, the usable
    * (finite, nonzero-norm) ones `usable`, and 8 md5-sampled centroids
    * `cents` (cell, cvec, cn). */
  val semCentroidCtes: String =
    """valid AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n
      |  FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
      |usable AS (SELECT * FROM valid WHERE NOT isnan(n) AND n > 0),
      |cents AS (
      |  SELECT * FROM (
      |    SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS cell,
      |           embedding AS cvec, n AS cn
      |    FROM valid)
      |  WHERE cell < 8 AND NOT isnan(cn) AND cn > 0)""".stripMargin

  /** Sign-random-projection LSH ([[graft.operators.Similarity]]'s 8
    * md5-derived ±1 planes): `dims`, `planes`, the projections `proj`
    * (embeddings read under alias `e`), the bit signatures `sigs` and
    * `buckets` — each signature plus its eight 1-flip probes. */
  def lshBucketCtes(e: String): String =
    s"""dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
       |planes AS (
       |  SELECT p, list(CASE WHEN ('0x' || substring(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 2))::INT & 1 = 0
       |                      THEN 1.0 ELSE -1.0 END ORDER BY d) AS pl
       |  FROM (SELECT p, unnest(range((SELECT dim FROM dims))) AS d FROM range(8) t(p))
       |  GROUP BY p),
       |proj AS (
       |  SELECT $e.vec_id, p.p,
       |    list_sum(list_transform(list_zip($e.embedding, p.pl), x -> x[1]::DOUBLE * x[2])) AS proj
       |  FROM embeddings $e CROSS JOIN planes p),
       |sigs AS (
       |  SELECT vec_id, string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
       |  FROM proj GROUP BY vec_id),
       |buckets AS (
       |  SELECT vec_id, sig AS bucket FROM sigs
       |  UNION ALL
       |  SELECT vec_id, substring(sig,1,i::INT-1) ||
       |         (CASE WHEN substring(sig,i::INT,1)='1' THEN '0' ELSE '1' END) ||
       |         substring(sig,i::INT+1,8-i::INT) AS bucket
       |  FROM sigs, range(1,9) t(i))""".stripMargin

  /** After [[lshBucketCtes]]: the norms `nrm`, the multi-probe candidates
    * `cand` of queries vec_id < 25, and `scored`, their exact cosine as
    * column `score`. */
  def lshScoredCtes(nrm: String, score: String): String =
    s"""${l2NormCte(nrm)},
       |cand AS (
       |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
       |  FROM buckets qb JOIN buckets cb USING (bucket)
       |  WHERE qb.vec_id < 25 AND cb.vec_id != qb.vec_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    list_sum(list_transform(list_zip(eq.embedding, ec.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE))
       |      / (nq.n * nc.n) AS $score
       |  FROM cand JOIN embeddings eq ON eq.vec_id = query_id
       |            JOIN embeddings ec ON ec.vec_id = neighbor_id
       |            JOIN $nrm nq ON nq.vec_id = query_id
       |            JOIN $nrm nc ON nc.vec_id = neighbor_id)""".stripMargin

  /** The final top-5 of `scored` by cosine, ties to the lower neighbor. */
  val top5ByCosine: String =
    """r AS (SELECT query_id, neighbor_id, cosine,
      |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |      FROM scored)
      |SELECT query_id, neighbor_id, rank, round(cosine, 9) AS cosine
      |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The first `n` embeddings in md5(vec_id) order, numbered from 0 as
    * `id`: the deterministic centroid / codebook sample. */
  def md5SampleCte(name: String, id: String, n: Int): String =
    s"""$name AS (
       |  SELECT $id, cv FROM (
       |    SELECT ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS $id,
       |           embedding AS cv
       |    FROM embeddings) WHERE $id < $n)""".stripMargin

  /** IVF coarse cells: `cells` md5-sampled centroids, argmax-dot
    * assignment (ties to the higher cell) as `<p>assign`, and the
    * `probes` best cells of queries vec_id < 25 as `<p>probe`. */
  def ivfCellCtes(p: String, cells: Int, probes: Int): String =
    s"""${md5SampleCte("cent", "cell", cells)},
       |${p}score AS (
       |  SELECT e.vec_id, c.cell,
       |    list_sum(list_transform(list_zip(e.embedding, c.cv),
       |      x -> x[1]::DOUBLE * x[2]::DOUBLE)) AS s
       |  FROM embeddings e CROSS JOIN cent c),
       |${p}ranked AS (
       |  SELECT vec_id, cell,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
       |  FROM ${p}score),
       |${p}assign AS (SELECT vec_id, cell FROM ${p}ranked WHERE rn = 1),
       |${p}probe AS (SELECT vec_id, cell FROM ${p}ranked WHERE rn <= $probes AND vec_id < 25)""".stripMargin

  // Product quantization over the 64-dim fixture: 8 subspaces of 8 dims,
  // 8 codes each.
  val pqM = 8; val pqCodes = 8; val pqDsub = 8
  def pqSliceDot(a: String, b: String) =
    s"""list_sum(list_transform(list_zip(
       |        list_slice($a, sub.s*$pqDsub+1, sub.s*$pqDsub+$pqDsub),
       |        list_slice($b, sub.s*$pqDsub+1, sub.s*$pqDsub+$pqDsub)),
       |      x -> x[1]::DOUBLE * x[2]::DOUBLE))""".stripMargin

  /** Per (vec_id, subspace), the code with the best score `sc` in
    * `esc`, ties to the higher code. */
  def pqArgmaxCte(name: String, esc: String): String =
    s"""$name AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY sc DESC, code DESC) AS rn
       |    FROM $esc) WHERE rn = 1)""".stripMargin

  /** PQ encoding against the full-dim sampled codebook `cb`: subspaces
    * `sub`, 2·x·c−|c|² scores `esc`, codes `enc`, and each code's
    * squared norm `cn2`. */
  val pqEncodeCtes: String =
    s"""sub AS (SELECT unnest(range($pqM)) AS s),
       |esc AS (
       |  SELECT e.vec_id, sub.s, c.code,
       |    2.0 * ${pqSliceDot("e.embedding", "c.cv")}
       |    - list_sum(list_transform(list_slice(c.cv, sub.s*$pqDsub+1, sub.s*$pqDsub+$pqDsub),
       |        x -> x::DOUBLE * x::DOUBLE)) AS sc
       |  FROM embeddings e CROSS JOIN sub CROSS JOIN cb c),
       |${pqArgmaxCte("enc", "esc")},
       |cn2 AS (
       |  SELECT enc.vec_id, enc.s,
       |    list_sum(list_transform(list_slice(cb.cv, enc.s*$pqDsub+1, enc.s*$pqDsub+$pqDsub),
       |      x -> x::DOUBLE * x::DOUBLE)) AS nsq
       |  FROM enc JOIN cb USING (code))""".stripMargin

  /** Encoding against a per-subspace codebook `cb` (rows s, code, cv) of
    * the trained PQ: scores `esc<n>` and codes `enc<n>`. */
  def pqTrainedEncodeCtes(n: String, cb: String): String =
    s"""esc$n AS (
       |  SELECT e.vec_id, c.s, c.code,
       |    2.0 * list_sum(list_transform(list_zip(
       |        list_slice(e.embedding, c.s*$pqDsub+1, c.s*$pqDsub+$pqDsub), c.cv),
       |      x -> x[1]::DOUBLE * x[2]::DOUBLE))
       |    - list_sum(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE)) AS sc
       |  FROM embeddings e CROSS JOIN $cb c),
       |${pqArgmaxCte(s"enc$n", s"esc$n")}""".stripMargin

  /** Reconstruction norms `recon` (an explicit left-assoc sum over the
    * subspaces) and the query norms `qn`. */
  val pqReconCtes: String =
    s"""recon AS (
       |  SELECT vec_id,
       |    ${(0 until pqM).map(i => s"MAX(CASE WHEN s=$i THEN nsq END)").mkString(" + ")} AS pq_nsq
       |  FROM cn2 GROUP BY vec_id),
       |qn AS (SELECT vec_id,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n
       |  FROM embeddings)""".stripMargin

  /** After `adcp` (per-subspace ADC terms `v`): the ADC sums, the
    * refineFactor·k = 20 shortlist, exact cosine re-rank and the top 5. */
  val pqRerankTail: String =
    s"""adc AS (
       |  SELECT query_id, neighbor_id,
       |    ${(0 until pqM).map(i => s"MAX(CASE WHEN s=$i THEN v END)").mkString(" + ")} AS adcsum
       |  FROM adcp GROUP BY query_id, neighbor_id),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.query_id, a.neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY a.query_id
       |        ORDER BY a.adcsum / (qn.n * sqrt(r.pq_nsq)) DESC, a.neighbor_id) AS arn
       |    FROM adc a JOIN qn ON qn.vec_id = a.query_id
       |               JOIN recon r ON r.vec_id = a.neighbor_id) x
       |  WHERE arn <= 20),
       |scored AS (
       |  SELECT sh.query_id, sh.neighbor_id,
       |    list_sum(list_transform(list_zip(eq.embedding, ec.embedding),
       |      x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (nq.n * nc.n) AS cosine
       |  FROM short sh JOIN embeddings eq ON eq.vec_id = sh.query_id
       |                JOIN embeddings ec ON ec.vec_id = sh.neighbor_id
       |                JOIN qn nq ON nq.vec_id = sh.query_id
       |                JOIN qn nc ON nc.vec_id = sh.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |                           ORDER BY cosine DESC, neighbor_id) AS rank
       |      FROM scored)
       |SELECT query_id, neighbor_id, rank, round(cosine, 9) AS cosine
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
}
