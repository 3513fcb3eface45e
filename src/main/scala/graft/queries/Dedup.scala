package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication operators over `documents` / `embeddings` (north-star
  * extension class): exact hash-dedup, n-gram Jaccard, MinHash+LSH banding,
  * SimHash, and embedding-cosine near-dup.
  *
  * Everything is expressed with engine-portable primitives (md5, substr,
  * integer bit arithmetic, left-fold array aggregation) so each operator has
  * a bit-exact DuckDB oracle. DuckDB's `list_sum` is a plain left fold, so
  * Spark's `aggregate(..., 0D, (acc,v) -> acc+v)` reproduces double sums
  * bit-identically (verified empirically at sf0.01).
  *
  * Scale design (100 TB):
  *  - signatures (minhash / simhash / fingerprints) are pure per-row
  *    projections — no shuffle, embarrassingly parallel, WholeStageCodegen;
  *  - candidate generation joins on *bands/blocks/buckets*, never all-pairs:
  *    cost is sum over buckets of |bucket|^2 instead of n^2. Band width (r)
  *    tunes the precision/recall threshold: P(match) = 1-(1-s^r)^b;
  *  - only the exact re-verification (Jaccard / hamming / cosine) touches
  *    candidate pairs, and it runs after the band-join has pruned;
  *  - the all-pairs variants (q36, q39) exist as exact baselines: q36 joins
  *    on shared shingles (already sub-quadratic on natural text), q39 is the
  *    brute-force oracle for the LSH path in Similarity.scala.
  */
object Dedup {
  private[graft] val K = 16 // minhash signature length (shared with streaming.IncrementalDedup)
  private[graft] val B = 4  // bands (r = K/B = 4 rows per band; shared with streaming.IncrementalDedup)
  /** q36 posting-list cap: shingles in more docs than this are dropped
    * as uninformative before the candidate-pair join (skew guard). */
  private val MaxShingleDf = 100

  /** q258's fixed BFS round cap, shared by the engine's two sweeps and
    * the unrolled oracle chain (declared BEFORE `specs` — the BpeRounds
    * lesson: the oracle string interpolates it eagerly). */
  private val DiamRounds = 8

  /** q209's seeded truth-sample modulus: docs with doc_id % 4 = 0, so
    * true pairs survive at ~1/16 — the scale knob that keeps the
    * tuning curve's grading tractable at 100x while the candidates
    * stay full-corpus. (Declared BEFORE `specs`: the oracle string
    * interpolates it eagerly — the BpeRounds lesson.) */
  private[graft] val TruthSampleMod = 4

  /** Scoped scratch cache: persist the shared intermediates, materialize
    * `body` eagerly (localCheckpoint — so the scratch is consumed HERE,
    * not lazily after release), then unpersist. Cache lifetime stays
    * inside the builder: a session running q36→q37→q63→q65→q66 back to
    * back accumulates no CacheManager entries (round-2 review item —
    * previously callers had to clearCache()). The checkpoint blocks of
    * the small result are reclaimed by the context cleaner once the
    * caller drops the result, the same contract ConnectedComponents'
    * per-iteration checkpoints rely on. */
  private[queries] def withScratch(scratch: DataFrame*)(body: => DataFrame): DataFrame = {
    // dev-introspection escape (graft.lazyScratch sysprop, set by Probe's
    // explain mode): return the UNmaterialized plan so explain() shows
    // the real operator tree instead of a checkpoint scan. Leaks the
    // scratch persists by design — never set it in a real run.
    if (sys.props.contains("graft.lazyScratch")) {
      scratch.foreach(_.persist())
      body
    } else {
      scratch.foreach(_.persist())
      try body.localCheckpoint()
      finally scratch.foreach(_.unpersist(blocking = true))
    }
  }

  /** Exact Jaccard >= 0.5 near-dup pairs (a_id, b_id, jac) — the q36
    * pipeline, shared with q65's clustering. `sampleMod`: restrict to
    * docs with doc_id % m = 0 BEFORE the posting-list build (q209's
    * seeded truth sample — deterministic, so oracle-able; pair
    * survival rate 1/m², and the sample cut reaches the explode, so
    * the truth join's cost drops by the same factor). */
  private[graft] def jaccardPairs(s: SparkSession, dir: String,
      sampleMod: Option[Int] = None): DataFrame = {
    val base0 = shingled(s, dir) // read twice: lens + index
    val base = sampleMod.fold(base0)(m => base0.filter(col("doc_id") % m === 0))
    withScratch(base) {
      candidatePairs(base)
        .select(col("a_id"), col("b_id"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double")).as("jac"))
        .filter(col("jac") >= 0.5)
    }
  }

  /** q36-qualified near-dup edges with INTEGER weights — the
    * symmetric-difference shingle distance na+nb−2·inter per pair (how
    * many shingles you would have to add or remove to turn one doc into
    * the other). The weighted-graph input for [[graft.operators.Sssp]]:
    * all-integer, so the distance map is engine-exact. */
  private def weightedPairs(s: SparkSession, dir: String): DataFrame = {
    val base = shingled(s, dir)
    withScratch(base) {
      candidatePairs(base)
        .filter(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double") >= 0.5)
        .select(col("a_id"), col("b_id"),
          (col("na") + col("nb") - lit(2) * col("inter")).as("w"))
    }
  }

  /** Candidate near-dup pairs with intersection and set sizes —
    * (a_id, b_id, inter, na, nb) — the posting-list pipeline shared by
    * Jaccard (q36/q65/q66/q81) and containment (q75) scoring. Pure
    * plan over `base` = [[shingled]]; the CALLER owns base's cache
    * scope (withScratch), since only it knows when the consuming query
    * materializes. */
  private def candidatePairs(base: DataFrame): DataFrame = {
    // (set size, doc id) packed into ONE long — the q120 (23+40)-bit
    // packing with its fail-loud headroom guard — so the posting lists
    // carry lengths for free and the two per-side doc-length joins
    // disappear from the plan. Those joins broadcast at test scale but
    // are PAIR-COUNT-sized shuffles against a CORPUS-sized length frame
    // at 100 TB (§3: the cheapest join is the one you delete). Pair
    // orientation: packed order is (n, doc_id)-lexicographic and
    // consistent across buckets, so the group key is stable; the final
    // select restores the a_id < b_id contract (lengths swap along).
    val pid = when(col("doc_id") >= lit(1L << 40) ||
        size(col("sh")) >= lit(1 << 23),
        expr("raise_error('graft candidatePairs: doc_id/set-size exceed " +
          "the (40,23)-bit packing headroom - widen the pack')")
          .cast("long"))
      .otherwise(shiftleft(size(col("sh")).cast("long"), 40) + col("doc_id"))
    val idMask = (1L << 40) - 1
    base
      .select(pid.as("pid"), explode(col("sh")).as("s"))
      .groupBy(col("s"))
      .agg(sort_array(collect_list(col("pid"))).as("ds"))
      .filter(size(col("ds")).between(2, MaxShingleDf))
      // streaming pair generation (graft.plans.PostingPairs): no
      // materialized O(|bucket|^2) nested array before the explode
      .select(graft.plans.PostingPairs(col("ds")).as(Seq("a", "b")))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
      .select(
        (col("a").bitwiseAND(idMask)).as("ua"),
        shiftrightunsigned(col("a"), 40).as("un"),
        (col("b").bitwiseAND(idMask)).as("ub"),
        shiftrightunsigned(col("b"), 40).as("vn"),
        col("inter"))
      .select(
        least(col("ua"), col("ub")).as("a_id"),
        greatest(col("ua"), col("ub")).as("b_id"),
        col("inter"),
        when(col("ua") <= col("ub"), col("un")).otherwise(col("vn")).as("na"),
        when(col("ua") <= col("ub"), col("vn")).otherwise(col("un")).as("nb"))
  }

  /** DuckDB CTE chain for [[candidatePairs]]: pairs(a_id, b_id, inter,
    * na, nb). Lazy: interpolates shingledSql, declared further down. */
  private lazy val candidateCtes =
    s"""base AS ($shingledSql),
       |ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM base),
       |freq AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= $MaxShingleDf),
       |ex2 AS (SELECT ex.* FROM ex JOIN freq USING (s)),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
       |         max(a.n) AS na, max(b.n) AS nb
       |  FROM ex2 a JOIN ex2 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  /** [[candidateCtes]] + jp(a_id, b_id, jac) — q36's oracle body,
    * shared with q65/q66's recursive clustering oracles. */
  private lazy val jaccardPairsCtes =
    s"""$candidateCtes,
       |jp AS (
       |  SELECT a_id, b_id,
       |    CAST(inter AS DOUBLE)/CAST(na+nb-inter AS DOUBLE) AS jac
       |  FROM pairs
       |  WHERE CAST(inter AS DOUBLE)/CAST(na+nb-inter AS DOUBLE) >= 0.5)""".stripMargin

  /** [[candidateCtes]] + cpairs(a_id, b_id, c_ab, c_ba) — q75's oracle
    * body: same candidate generation, scored as one-sided containment
    * per direction (single double division each — engine-exact). */
  private lazy val jaccardContainmentCtes =
    s"""$candidateCtes,
       |cpairs AS (
       |  SELECT a_id, b_id,
       |    CAST(inter AS DOUBLE)/CAST(na AS DOUBLE) AS c_ab,
       |    CAST(inter AS DOUBLE)/CAST(nb AS DOUBLE) AS c_ba
       |  FROM pairs)""".stripMargin

  /** The LPA synchronous-round CTE chain r1/l1 … rN/lN over `e`
    * (symmetrized edges u,v) and `l0` (seed labels node,lbl) — the
    * q129 oracle's fixed-round unroll, shared with q219's quality
    * report so both grade the SAME partition (count DESC, label ASC
    * tie order: the operators.LabelPropagation contract). */
  private def lpaRoundCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""r$i AS (SELECT e.u, l.lbl, count(*) AS c
         |  FROM e JOIN l${i - 1} l ON e.v = l.node GROUP BY e.u, l.lbl),
         |l$i AS (SELECT u AS node, lbl FROM (
         |  SELECT u, lbl, row_number() OVER (PARTITION BY u
         |    ORDER BY c DESC, lbl) AS rn FROM r$i) WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")

  /** doc_id + distinct word-3-gram shingles via the native
    * [[graft.plans.WordShingles]] expression (one pass, no interpreted
    * transform lambdas — WordShinglesSpec proves parity with the SQL
    * formulation). The scan is repartitioned first: the test corpus is
    * one small parquet file = one input split, which would serialize
    * all shingling onto a single task; at 100 TB the input arrives
    * pre-split and Tables.spread skips the shuffle entirely. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")
      .select(col("doc_id"),
        graft.plans.WordShingles(col("text"), 3, distinct = true).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Spec access to the shared shingle frame (PositionalBoundedPairsSpec
    * pins the q120 generator variants against each other over it). */
  private[graft] def shingledFrame(s: SparkSession, dir: String): DataFrame =
    shingled(s, dir)

  private val shingledSql =
    """SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
      |    i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS sh
      |FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents)
      |WHERE len(ws) >= 3""".stripMargin

  /** Max rows the q39 exact all-pairs baseline will broadcast.
    * Overridable per session via `graft.allPairs.maxRows`. */
  private[graft] val AllPairsMaxRowsKey = "graft.allPairs.maxRows"
  private val AllPairsMaxRowsDefault = 100000L

  /** Fail-loud gate for the exact all-pairs baseline: the broadcast side
    * must be bounded, or the operator cannot run at scale AT ALL (the
    * broadcast would not fit, and even if it did the cartesian is
    * O(n^2)). Refusing loudly — the same posture ConnectedComponents
    * takes on non-convergence — beats silently shipping a plan that
    * falls over at 100 TB. The count() is parquet-metadata-cheap. */
  private def requireAllPairsSmall(s: SparkSession, side: DataFrame): Unit = {
    val max = s.conf.get(AllPairsMaxRowsKey, AllPairsMaxRowsDefault.toString).toLong
    val n = side.count()
    require(n <= max,
      s"q39 exact all-pairs baseline refuses to broadcast $n rows " +
        s"(limit $max, conf $AllPairsMaxRowsKey). This operator is the " +
        "small-corpus oracle; for large corpora use the LSH-bucketed " +
        "path (q41_knn_lsh) or the cluster-pruned SemDeDup path " +
        "(q103_semdedup), both in Similarity.scala.")
  }

  /** Distinct-8-gram inverted index (doc_id, nib, g) shared by q63's
    * contamination report and q70's cleaned-corpus emission: one gram
    * row per (doc, distinct 8-token window), `nib` = the q56 split
    * nibble, `g` = the gram's md5 key. */
  private def gramIndex(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")
      .select(col("doc_id"),
        graft.plans.WordShingles(col("text"), 8, distinct = true).as("g8"),
        (instr(lit("0123456789abcdef"),
          substring(md5(col("doc_id").cast("string")), 1, 1)) - 1).as("nib"))
      .select(col("doc_id"), col("nib"), explode(col("g8")).as("g8s"))
      .select(col("doc_id"), col("nib"), md5(col("g8s")).as("g"))

  /** Content-defined chunk relation `cm(doc_id, source, nib, clen, h)`
    * as a DuckDB WITH-clause body — ONE definition shared by q244's
    * savings report and q246's chunk-granularity decontamination (the
    * gramIndex anti-drift rule): boundaries are the positions whose
    * rolling 8-char-gram hash (q49 arithmetic) is divisible by 64, cut
    * after each boundary gram's last char, chunks md5-keyed. `nib` is
    * the q56 split nibble. */
  private val cdcChunkCtesSql: String =
    """c0 AS (
      |  SELECT doc_id, source, text, length(text) AS n,
      |    strpos('0123456789abcdef',
      |           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib,
      |    list_transform(string_split(text, ''),
      |      ch -> CAST(ascii(ch) AS BIGINT)) AS codes
      |  FROM documents),
      |g0 AS (SELECT doc_id, source, nib, text, n,
      |        CASE WHEN n >= 8 THEN
      |          list_filter(range(1, n - 6), i ->
      |            list_reduce(codes[i:i+7],
      |              (a, b) -> (a*31 + b) % 1000000007) % 64 = 0)
      |        ELSE CAST([] AS BIGINT[]) END AS bs
      |      FROM c0),
      |k0 AS (SELECT doc_id, source, nib, text, n,
      |        list_filter(list_transform(bs, b -> b + 7), c -> c < n)
      |          AS cuts
      |      FROM g0),
      |cm AS (SELECT doc_id, source, nib,
      |         (cuts || [n])[j + 1]
      |           - list_concat([CAST(1 AS BIGINT)],
      |               list_transform(cuts, c -> c + 1))[j + 1] + 1 AS clen,
      |         md5(substr(text,
      |           CAST(list_concat([CAST(1 AS BIGINT)],
      |               list_transform(cuts, c -> c + 1))[j + 1] AS INTEGER),
      |           CAST((cuts || [n])[j + 1]
      |             - list_concat([CAST(1 AS BIGINT)],
      |                 list_transform(cuts, c -> c + 1))[j + 1] + 1
      |             AS INTEGER))) AS h
      |       FROM k0, unnest(range(0, len(cuts) + 1)) AS t(j))"""
      .stripMargin

  /** Spark twin of [[cdcChunkCtesSql]]: (doc_id, source, nib, clen, h),
    * one row per content-defined chunk — boundaries from the native
    * [[graft.plans.CdcBoundaries]] kernel, spans derived declaratively.
    * Pure projection; no shuffle. */
  private def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcChunksOf(Tables.spread(s, dir, "documents"))

  /** [[cdcChunks]] over an arbitrary documents-shaped frame (doc_id,
    * text, source, …) — stateless, so it applies to STREAMING inputs
    * unchanged; shared with the IncrementalCdcStore twin so the ingest
    * gate chunks exactly like the batch report. */
  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), col("text"),
        length(col("text")).as("n"),
        (instr(lit("0123456789abcdef"),
          substring(md5(col("doc_id").cast("string")), 1, 1)) - 1).as("nib"),
        graft.plans.CdcBoundaries(col("text"), 64).as("bs"))
      .withColumn("cuts",
        expr("filter(transform(bs, b -> b + 7), c -> c < n)"))
      .withColumn("starts",
        expr("concat(array(1), transform(cuts, c -> c + 1))"))
      .withColumn("ends", expr("concat(cuts, array(n))"))
      .select(col("doc_id"), col("source"), col("nib"), col("text"),
        posexplode(expr("arrays_zip(starts, ends)")).as(Seq("j", "se")))
      .select(col("doc_id"), col("source"), col("nib"),
        (col("se.ends") - col("se.starts") + 1).cast("long").as("clen"),
        md5(expr("substring(text, se.starts, se.ends - se.starts + 1)"))
          .as("h"))

  /** The q65 transitive closure over the `jp` near-dup edges as shared
    * CTEs — `comp(doc_id, cluster_id)` is the exact SQL twin of
    * [[graft.operators.ConnectedComponents]].run's min-label rule. ONE
    * definition for every oracle that clusters (q65/q66/q224/q225/
    * q238/q239): the closure convention must stay bit-equal to the
    * operator, and six drifting copies was how it would someday not.
    * Must follow [[jaccardPairsCtes]] inside a WITH RECURSIVE. */
  private val ccCtesSql: String =
    """nodes AS (SELECT a_id AS n FROM jp UNION SELECT b_id FROM jp),
      |e AS (SELECT a_id AS u, b_id AS v FROM jp
      |      UNION ALL SELECT b_id, a_id FROM jp),
      |reach(n, m) AS (
      |  SELECT n, n FROM nodes
      |  UNION
      |  SELECT r.n, e.v FROM reach r JOIN e ON r.m = e.u),
      |comp AS (SELECT n AS doc_id, min(m) AS cluster_id
      |         FROM reach GROUP BY n)""".stripMargin

  /** Exact left-fold dot product (shared with Similarity). */
  private def dot(a: String, b: String): Column = graft.functions.Vectors.dot(a, b)

  private def dotSql(a: String, b: String): String =
    graft.functions.Vectors.dotSql(a, b)

  /** DuckDB simhash fingerprint (shared by q38/q46). NB: DuckDB's
    * concat_ws stringifies a list argument ("[1, 0, …]") instead of
    * joining its elements — array_to_string is the join. Expects a
    * relation exposing `hs` = per-token md5 list. */
  private val fpSql = """array_to_string(list_transform(range(0, 64), k ->
    |  CASE WHEN list_sum(list_transform(hs, h ->
    |    2*((strpos('0123456789abcdef', substr(h, k//4+1, 1)) - 1)
    |       >> (k%4) & 1) - 1)) > 0
    |  THEN '1' ELSE '0' END), '')""".stripMargin

  /** Spark simhash fingerprints (doc_id, fp) via the native
    * [[graft.plans.SimHashAgg]] aggregate: one md5 + 64 int adds per
    * token occurrence, map-side combining, one shuffle carrying 64 ints
    * per doc — bit-identical to [[fpSql]] (SimHashAggSpec proves parity
    * against the portable SQL formulation). Earlier shapes and their
    * measured costs (interpreted bit-expansion lambdas, vocab-dedup
    * join variant) are in the git log. */
  private[graft] def simhashFps(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(graft.plans.SimHashAgg(col("tok")).as("fp"))

  /** Sorted-neighborhood window pairs at hamming <= maxHam — q121's
    * machinery (Hernandez & Stolfo SIGMOD'95; the w=8 window over the
    * GlobalIndex rank of the SimHash order) parameterized on the
    * hamming cut so q121 (the strict <= 2 dedup) and q260 (the <= 8
    * SCREEN in front of the lossless gate) share one implementation.
    * Returns (a_id, b_id, hamming), unordered. Cost is O(n·w) pairs by
    * construction whatever the corpus — the hard bound that makes this
    * the screening pass of the 100 TB composition. */
  private[queries] def snmHammingPairs(s: SparkSession, dir: String,
      maxHam: Int): DataFrame = {
    val w = 8
    // fingerprint pass dominates; checkpointed once, feeds the sort
    // and both verify joins (the q38 pattern). LAZY (r16): GlobalIndex's
    // per-partition totals job is the first action over it and scans
    // every partition, so it materializes the checkpoint as part of the
    // range-shuffle map stage — the fingerprint pass and the sort fold
    // into one job instead of checkpoint-then-shuffle (§5).
    val fps = simhashFps(s, dir).localCheckpoint(eager = false)
    val ranked = graft.operators.GlobalIndex
      .assign(fps, Seq(col("fp"), col("doc_id")), "rk",
        parts = graft.operators.GlobalIndex.widthFor(fps,
          graft.sources.Tables.rowCount(s, dir, "documents")))
    // every pair within w of the sorted order shares one of the two
    // rank-blocks floor(rk/w), floor(rk/w)+1; blocks hold <= 2w ranks.
    // The doc id and the q38 bit-pack (two bit_count(xor) ops per pair)
    // ride the block exchange as payload and pairs emit IN-ROW: blocks
    // are <= 2w rows BY CONSTRUCTION, so the per-block pair array is
    // bounded (<= w*(2w-1)) and the two rank-keyed payload joins of the
    // old shape vanish — at scale those were doc-count-sized exchanges,
    // here they were 2 joins x AQE stage jobs (§2/§3). distinct on the
    // struct pair ≡ the old distinct on (ra, rb): the payload is a
    // function of the rank.
    val packed = ranked.select(col("rk"), col("doc_id"),
      expr("CAST(conv(substring(fp, 1, 32), 2, 10) AS BIGINT)").as("h1"),
      expr("CAST(conv(substring(fp, 33, 32), 2, 10) AS BIGINT)").as("h2"))
    packed
      .select(struct(col("rk"), col("doc_id"), col("h1"), col("h2"))
        .as("e"),
        explode(array(expr(s"rk div $w"), expr(s"rk div $w + 1")))
          .as("blk"))
      .groupBy(col("blk"))
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .filter(size(col("es")) >= 2)
      .select(explode(expr(s"""flatten(transform(sequence(0, size(es) - 2),
        i -> filter(transform(sequence(i + 1, size(es) - 1),
          j -> struct(es[i] AS a, es[j] AS b)),
          p -> p.b.rk - p.a.rk <= ${w - 1})))""")).as("p"))
      .distinct()
      .select(least(col("p.a.doc_id"), col("p.b.doc_id")).as("a_id"),
        greatest(col("p.a.doc_id"), col("p.b.doc_id")).as("b_id"),
        expr("CAST(bit_count(p.a.h1 ^ p.b.h1) + bit_count(p.a.h2 ^ p.b.h2) AS BIGINT)")
          .as("hamming"))
      .filter(col("hamming") <= maxHam)
  }

  val specs: Seq[QuerySpec] = Seq(

    // ------------------------------------------------------------------
    // Exact dedup: hash-groupBy on whitespace-normalized content. One
    // shuffle on the fingerprint; map-side partial aggregation makes this
    // scan-bound at 100 TB.
    QuerySpec.sqlBacked("q35_dedup_exact",
      """SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY fp ORDER BY keep_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(md5(lower(trim(col("text")))).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .transform(Tables.tableOrdered(s, dir, "documents")(col("keep_id"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // Exact n-gram Jaccard near-dup: candidate pairs share >=1 shingle
    // (inverted-index join, sub-quadratic on natural text), then
    // |A∩B| / (|A|+|B|-|A∩B|) >= 0.5.
    QuerySpec.sqlBacked("q36_dedup_jaccard",
      s"""WITH $jaccardPairsCtes
         |SELECT a_id, b_id, jac FROM jp ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      // Posting-list pair generation instead of an inverted-index
      // self-join: group the exploded (shingle, doc) index once, emit
      // ordered pairs from each posting list, count shared shingles.
      // One shuffle on the shingle key + one on the pair key — the
      // self-join formulation shuffled the same index twice.
      //
      // Posting lists hold ONLY doc_ids: collecting (doc_id, n) structs
      // instead was measured 3x slower end-to-end (generic-object agg
      // buffers + interpreted struct-array sorts). The per-doc shingle
      // count joins back per-side AFTER pair aggregation. No broadcast
      // hint on the (doc_id, n) relation — it is sized by the corpus's
      // doc count, unbounded at 100 TB; AQE still promotes the join to
      // broadcast at runtime when it is actually small (as at test SF).
      //
      // The size cap doubles as the hot-shingle skew guard: stopword
      // 3-grams ("of the and"-class) carry no dedup signal but
      // quadratic pair cost — at 100 TB each would emit billions of
      // candidate pairs from one key.
      jaccardPairs(s, dir).orderBy(col("a_id"), col("b_id"))
    },

    // ------------------------------------------------------------------
    // MinHash + LSH banding: K=16 string-min signatures (min over md5 of
    // salted shingles ≙ a random permutation per salt), B=4 bands of r=4.
    // Candidates = pairs agreeing on any full band; estimated Jaccard =
    // fraction of matching signature slots. Finds exactly the true
    // near-dup pairs at sf0.01 (validated against q36).
    QuerySpec.sqlBacked("q37_dedup_minhash", {
      val sigs = (0 until K).map(i =>
        s"list_min(list_transform(sh, s -> md5('$i:' || s))) AS s$i").mkString(", ")
      val sigArr = (0 until K).map(i => s"s$i").mkString("[", ",", "]")
      val bands = (0 until B).map(j =>
        s"md5(s${4*j}||s${4*j+1}||s${4*j+2}||s${4*j+3}) AS b$j").mkString(", ")
      s"""WITH base AS ($shingledSql),
         |sig AS (SELECT doc_id, $sigs FROM base),
         |sig2 AS (SELECT doc_id, $sigArr AS sig, $bands FROM sig),
         |band AS (SELECT doc_id, sig, j, [b0,b1,b2,b3][j+1] AS bh
         |         FROM sig2, unnest([0,1,2,3]) AS t(j)),
         |cand AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         any_value(a.sig) AS sa, any_value(b.sig) AS sb
         |  FROM band a JOIN band b ON a.j = b.j AND a.bh = b.bh
         |    AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT a_id, b_id,
         |  CAST(list_sum(list_transform(range(1, ${K+1}),
         |    i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS DOUBLE)/$K
         |    AS est_jac
         |FROM cand ORDER BY a_id, b_id""".stripMargin
    }) { (s, dir) =>
      // Signatures via the native MinHashSig expression (one pass over
      // the shingles computing all K minima — the SQL formulation walks
      // the array K times through interpreted lambdas; MinHashSigSpec
      // proves byte parity). Cached (withScratch) DIRECTLY above the
      // expression: band/slot derivations reference the sig array
      // several times, and without the materialization boundary
      // CollapseProject would inline — and recompute — the signature
      // per reference.
      val sigp = shingled(s, dir)
        .select(col("doc_id"), graft.plans.MinHashSig(col("sh"), K).as("sig"))
      withScratch(sigp) {
        val bandArr = (0 until B).map(j =>
          md5(concat((4 * j until 4 * j + 4).map(i => col("sig").getItem(i)): _*)))
        val sigArr = sigp.select(col("doc_id"), col("sig"))
        sigp
          .select(col("doc_id"), posexplode(array(bandArr: _*)).as(Seq("j", "bh")))
          .groupBy(col("j"), col("bh"))
          .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
          .filter(size(col("ds")) >= 2)
          .select(graft.plans.PostingPairs(col("ds")).as(Seq("a", "b")))
          .select(col("a").as("a_id"), col("b").as("b_id"))
          .distinct()
          .join(sigArr.select(col("doc_id").as("a_id"), col("sig").as("sa")), "a_id")
          .join(sigArr.select(col("doc_id").as("b_id"), col("sig").as("sb")), "b_id")
          .select(col("a_id"), col("b_id"), expr(
            s"CAST(size(filter(zip_with(sa, sb, (x, y) -> x = y), v -> v)) AS DOUBLE)/$K")
            .as("est_jac"))
          .orderBy(col("a_id"), col("b_id"))
      }
    },

    // ------------------------------------------------------------------
    // SimHash: 64-bit bag-of-words fingerprint (per-bit majority vote of
    // token-hash bits, bits read from md5 hex nibbles so both engines see
    // identical hash bits). Candidates via 4x16-bit block LSH, verified
    // with exact hamming distance <= 2.
    QuerySpec.sqlBacked("q38_dedup_simhash", {
      s"""WITH toks AS (SELECT doc_id,
         |    list_transform(string_split(text, ' '), t -> md5(t)) AS hs
         |  FROM documents),
         |fps AS (SELECT doc_id, $fpSql AS fp FROM toks),
         |blocks AS (SELECT doc_id, fp, j, substr(fp, 16*j+1, 16) AS blk
         |           FROM fps, unnest([0,1,2,3]) AS t(j)),
         |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           any_value(a.fp) AS fa, any_value(b.fp) AS fb
         |         FROM blocks a JOIN blocks b ON a.j = b.j AND a.blk = b.blk
         |           AND a.doc_id < b.doc_id
         |         GROUP BY a.doc_id, b.doc_id)
         |SELECT a_id, b_id, hamming FROM (
         |  SELECT a_id, b_id, CAST(list_sum(list_transform(range(1, 65),
         |    i -> CASE WHEN substr(fa,i,1) = substr(fb,i,1) THEN 0 ELSE 1 END))
         |    AS BIGINT) AS hamming
         |  FROM cand)
         |WHERE hamming <= 2 ORDER BY a_id, b_id""".stripMargin
    }) { (s, dir) =>
      // Posting-list pair generation per (block-index, block) bucket —
      // one shuffle on the bucket key, doc_ids only in the lists (see
      // q36); fingerprints join back per-side after pair dedup. The
      // fingerprint table is materialized eagerly (localCheckpoint): it
      // feeds the block index and both re-join sides, and computing it
      // (the SimHashAgg pass over every token) is the dominant cost.
      // LAZY checkpoint (r16): the single consuming job materializes it
      // - the block index and both re-join sides read the same cached
      // RDD within that job (get-or-compute), so the fingerprint pass
      // still runs once but without its own checkpoint job (§5).
      val fps = simhashFps(s, dir).localCheckpoint(eager = false)
      // Bit-pack each fingerprint into two 32-bit halves once per doc:
      // hamming distance is then bit_count(xor) — two codegen'd integer
      // ops per candidate pair. The naive per-character fold (64-step
      // `aggregate` with two substrings per step) is an interpreted
      // higher-order function costing ~40us per pair — measured 6 s over
      // the candidate set at sf0.1, 50x this formulation.
      val packed = fps.select(col("doc_id"), col("fp"),
        expr("CAST(conv(substring(fp, 1, 32), 2, 10) AS BIGINT)").as("h1"),
        expr("CAST(conv(substring(fp, 33, 32), 2, 10) AS BIGINT)").as("h2"))
      fps.select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, 3), j -> substring(fp, 16*j+1, 16))"))
          .as(Seq("j", "blk")))
        .groupBy(col("j"), col("blk"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")) >= 2)
        .select(graft.plans.PostingPairs(col("ds")).as(Seq("a", "b")))
        .select(col("a").as("a_id"), col("b").as("b_id"))
        .distinct()
        .join(packed.select(col("doc_id").as("a_id"), col("h1").as("a1"),
          col("h2").as("a2")), "a_id")
        .join(packed.select(col("doc_id").as("b_id"), col("h1").as("b1"),
          col("h2").as("b2")), "b_id")
        .select(col("a_id"), col("b_id"), expr(
          "CAST(bit_count(a1 ^ b1) + bit_count(a2 ^ b2) AS BIGINT)")
          .as("hamming"))
        .filter(col("hamming") <= 2)
        .orderBy(col("a_id"), col("b_id"))
    },

    // ------------------------------------------------------------------
    // q242: simhash BIT-BALANCE audit — the hash-quality check behind
    // the q38/q46 fingerprint fleet: each of the 64 bit positions
    // should split the corpus ~50/50 (the majority vote over md5 bits
    // is balanced iff the underlying feature hash is), and a position
    // whose share drifts far from half signals a degenerate feature
    // distribution (e.g. one stopword dominating every document's
    // vote), which silently collapses hamming distances and floods the
    // q38 band join with false candidates. Per bit: ones count, share
    // and absolute imbalance |2·ones − n| in exact ppm. Scale: one
    // fingerprint pass (the SimHashAgg aggregate the fleet already
    // pays), a ×64 stateless fan-out, and a 64-key map-side-combined
    // aggregate — the report is 64 rows whatever the corpus.
    QuerySpec.sqlBacked("q242_simhash_balance",
      s"""WITH toks AS (SELECT doc_id,
         |    list_transform(string_split(text, ' '), t -> md5(t)) AS hs
         |  FROM documents),
         |fps AS (SELECT doc_id, $fpSql AS fp FROM toks),
         |b AS (SELECT bit,
         |        CASE WHEN substr(fp, bit, 1) = '1' THEN 1 ELSE 0 END AS one
         |      FROM fps, unnest(range(1, 65)) AS t(bit))
         |SELECT CAST(bit AS BIGINT) AS bit,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(one) AS BIGINT) AS n_ones,
         |  (1000000 * CAST(sum(one) AS BIGINT))
         |    // CAST(count(*) AS BIGINT) AS share_ppm,
         |  (1000000 * abs(2 * CAST(sum(one) AS BIGINT)
         |                 - CAST(count(*) AS BIGINT)))
         |    // CAST(count(*) AS BIGINT) AS imbalance_ppm
         |FROM b GROUP BY bit ORDER BY bit""".stripMargin) { (s, dir) =>
      simhashFps(s, dir)
        .select(col("fp"),
          explode(sequence(lit(1), lit(64))).as("bit"))
        .select(col("bit").cast("long").as("bit"),
          when(expr("substring(fp, bit, 1)") === "1", 1L).otherwise(0L)
            .as("one"))
        .groupBy(col("bit"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("one")).as("n_ones"))
        .select(col("bit"), col("n_docs"), col("n_ones"),
          expr("(1000000 * n_ones) div n_docs").as("share_ppm"),
          expr("(1000000 * abs(2 * n_ones - n_docs)) div n_docs")
            .as("imbalance_ppm"))
        .transform(Tables.tableOrdered(s, dir, "documents")(col("bit"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // q245: gram DOCUMENT-FREQUENCY histogram — the tuning artifact
    // behind MaxShingleDf (the posting-list cap every dedup join here
    // relies on): how many distinct 8-grams live in exactly-1, 2, 3–4,
    // 5–8, … documents, with each band's total posting mass. The two
    // numbers a cap owner reads: how much of the INDEX the cap drops
    // (n_grams above the cap band — cheap, those grams are stopword-
    // like) vs how much of the JOIN's quadratic work it prevents (the
    // posting mass up there is what becomes n² candidate pairs). A
    // power-of-two CASE ladder keeps the bucketing integer-exact in
    // both engines (no float log2). Scale: the gram index is the
    // already-audited q63 projection; the histogram is one gram-keyed
    // count (map-side combined) folded into a ≤10-key aggregate.
    QuerySpec.sqlBacked("q245_gram_df_histogram", {
      def ladder(v: String) =
        s"""CASE WHEN $v = 1 THEN '01:1' WHEN $v = 2 THEN '02:2'
           | WHEN $v <= 4 THEN '03:3-4' WHEN $v <= 8 THEN '04:5-8'
           | WHEN $v <= 16 THEN '05:9-16' WHEN $v <= 32 THEN '06:17-32'
           | WHEN $v <= 64 THEN '07:33-64'
           | WHEN $v <= $MaxShingleDf THEN '08:65-$MaxShingleDf'
           | ELSE '09:>$MaxShingleDf (capped)' END"""
          .stripMargin.replace("\n", "")
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    unnest(list_distinct(list_transform(range(1, len(ws)-6),
         |      i -> md5(array_to_string(ws[i:i+7], ' '))))) AS g
         |  FROM w WHERE len(ws) >= 8),
         |df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY g)
         |SELECT ${ladder("df")} AS df_band,
         |  CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(df) AS BIGINT) AS n_postings
         |FROM df GROUP BY df_band ORDER BY df_band""".stripMargin
    }) { (s, dir) =>
      val ladder =
        s"""CASE WHEN df = 1 THEN '01:1' WHEN df = 2 THEN '02:2'
          | WHEN df <= 4 THEN '03:3-4' WHEN df <= 8 THEN '04:5-8'
          | WHEN df <= 16 THEN '05:9-16' WHEN df <= 32 THEN '06:17-32'
          | WHEN df <= 64 THEN '07:33-64'
          | WHEN df <= $MaxShingleDf THEN '08:65-$MaxShingleDf'
          | ELSE '09:>$MaxShingleDf (capped)' END"""
          .stripMargin.replace("\n", "")
      gramIndex(s, dir)
        .groupBy(col("g"))
        .agg(count(lit(1)).cast("long").as("df"))
        .select(expr(ladder).as("df_band"), col("df"))
        .groupBy(col("df_band"))
        .agg(count(lit(1)).cast("long").as("n_grams"),
          sum(col("df")).as("n_postings"))
        .transform(d => Tables.orderedByBound(d, 64L)(col("df_band"))) // report-sized (§2)
    },

    // ------------------------------------------------------------------
    // q259: SOURCE SCORECARD — the one per-source table a corpus owner
    // reads before setting mixing weights, composing four audited
    // triage signals in exact ppm: exact-duplicate share (q97's
    // fp-dedup rule), OOV rate vs the train vocabulary (q237), hapax
    // type share (q250's richness band), and CDC chunk duplication
    // (q244's boilerplate signal). Each signal keeps its standalone
    // query as the per-signal report; here the composition joins four
    // |sources|-row frames — free — while the scans underneath are
    // exactly the standalone queries' own shapes (the q111 funnel
    // doctrine, applied to source triage instead of stage survival).
    // The token stream is built once for the OOV and hapax signals
    // (materialized — it feeds the vocab, the membership probe and the
    // type counts).
    QuerySpec.sqlBacked("q259_source_scorecard",
      s"""WITH f AS (SELECT source, doc_id,
         |         md5(lower(trim(text))) AS fp FROM documents),
         |k2 AS (SELECT fp, min(doc_id) AS kid FROM f GROUP BY fp),
         |dd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(CASE WHEN doc_id <> kid THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_dups
         |       FROM f JOIN k2 USING (fp) GROUP BY source),
         |w2 AS MATERIALIZED (
         |  SELECT source, nib, unnest(string_split(text, ' ')) AS tok
         |  FROM (SELECT source, text,
         |          strpos('0123456789abcdef',
         |                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
         |            AS nib
         |        FROM documents)),
         |v2 AS MATERIALIZED (SELECT DISTINCT tok FROM w2 WHERE nib <= 12),
         |ov AS (SELECT w2.source, CAST(count(*) AS BIGINT) AS n_tok,
         |        CAST(sum(CASE WHEN v2.tok IS NULL THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_oov
         |       FROM w2 LEFT JOIN v2 ON w2.tok = v2.tok
         |       GROUP BY w2.source),
         |hc AS (SELECT source, tok, count(*) AS n
         |       FROM w2 GROUP BY source, tok),
         |hp AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
         |        CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_hapax
         |       FROM hc GROUP BY source),
         |$cdcChunkCtesSql,
         |cd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
         |        CAST(count(DISTINCT h) AS BIGINT) AS n_unique
         |       FROM cm GROUP BY source)
         |SELECT dd.source, dd.n_docs,
         |  (1000000 * n_dups) // greatest(n_docs, CAST(1 AS BIGINT))
         |    AS dup_ppm,
         |  (1000000 * n_oov) // greatest(n_tok, CAST(1 AS BIGINT))
         |    AS oov_ppm,
         |  (1000000 * n_hapax) // greatest(n_types, CAST(1 AS BIGINT))
         |    AS hapax_type_ppm,
         |  (1000000 * (n_chunks - n_unique))
         |    // greatest(n_chunks, CAST(1 AS BIGINT)) AS chunk_dup_ppm
         |FROM dd JOIN ov ON ov.source = dd.source
         |        JOIN hp ON hp.source = dd.source
         |        JOIN cd ON cd.source = dd.source
         |ORDER BY dd.source""".stripMargin) { (s, dir) =>
      val docs = Tables.spread(s, dir, "documents")
      val f = docs.select(col("source"), col("doc_id"),
        md5(lower(trim(col("text")))).as("fp"))
      val w2 = docs.select(col("source"),
        (instr(lit("0123456789abcdef"),
          substring(md5(col("doc_id").cast("string")), 1, 1)) - 1).as("nib"),
        explode(split(col("text"), " ")).as("tok"))
      // f feeds the fp index and the dup count. The token stream w2 is
      // collapsed to ONE (source, tok) count frame `tc` before anything
      // joins it (§2.3 aggregate before you shuffle, r16): the OOV
      // membership probe previously LEFT-joined the full occurrence
      // stream against the vocabulary — a token-keyed exchange of every
      // occurrence — but n_oov is just the n-weighted sum over types,
      // so the probe joins |source x type| rows instead; the hapax
      // counts read the same frame, and the train-vocab flag rides
      // along as a max over the split nibble. One exchange of the
      // stream (tc's groupBy) instead of two (hc's groupBy + the
      // stream-wide join).
      val tc = w2.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).cast("long").as("n"),
          max(when(col("nib") <= 12, 1L).otherwise(0L)).as("has_tr"))
      withScratch(f, tc) {
        val dd = f
          .join(f.groupBy(col("fp")).agg(min(col("doc_id")).as("kid")), "fp")
          .groupBy(col("source"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("doc_id") =!= col("kid"), 1L).otherwise(0L))
              .as("n_dups"))
        val v2 = tc.filter(col("has_tr") === 1L).select(col("tok")).distinct()
          .withColumn("in_v", lit(1L))
        val ov = tc.join(v2, Seq("tok"), "left")
          .groupBy(col("source"))
          .agg(sum(col("n")).as("n_tok"),
            sum(when(col("in_v").isNull, col("n")).otherwise(0L))
              .as("n_oov"))
        val hp = tc
          .groupBy(col("source"))
          .agg(count(lit(1)).cast("long").as("n_types"),
            sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
        val cd = cdcChunks(s, dir)
          // two-level aggregate (the q69 move, §2): no Expand-2x
          .groupBy(col("source"), col("h"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("source"))
          .agg(sum(col("c")).cast("long").as("n_chunks"),
            count(lit(1)).cast("long").as("n_unique"))
        dd.join(ov, "source").join(hp, "source").join(cd, "source")
          .select(col("source"), col("n_docs"),
          expr("(1000000 * n_dups) div greatest(n_docs, CAST(1 AS BIGINT))")
            .as("dup_ppm"),
          expr("(1000000 * n_oov) div greatest(n_tok, CAST(1 AS BIGINT))")
            .as("oov_ppm"),
          expr("""(1000000 * n_hapax)
            | div greatest(n_types, CAST(1 AS BIGINT))"""
            .stripMargin.replace("\n", "")).as("hapax_type_ppm"),
          expr("""(1000000 * (n_chunks - n_unique))
            | div greatest(n_chunks, CAST(1 AS BIGINT))"""
            .stripMargin.replace("\n", "")).as("chunk_dup_ppm"))
          .transform(Tables.tableOrdered(s, dir, "documents")(col("source"))) // bounded sort (§2)
      }
    },

    // ------------------------------------------------------------------
    // q244: CONTENT-DEFINED chunking + the storage-dedup savings report
    // (LBFS, Muthitacharoen et al. SOSP'01; FastCDC): chunk boundaries
    // fall where the rolling 8-char-gram hash is divisible by 64 — a
    // property of the CONTENT, so an insertion early in a document
    // shifts bytes but re-synchronizes at the next boundary, which is
    // what makes chunk-level dedup robust where the fixed-stride q61
    // chunks are not (one inserted word re-keys every downstream fixed
    // chunk). Boundaries come from the native [[graft.plans
    // .CdcBoundaries]] expression (18th node — one codegen'd pass, the
    // q49 RollingHash arithmetic verbatim; the SQL oracle recomputes
    // them from q49's per-position gram-hash list). Cut after each
    // boundary gram's last char; expected chunk ~64 chars on this
    // corpus (production CDC additionally clamps min/max chunk sizes —
    // a consumer policy layered on the same boundary primitive). The
    // report is the question a storage/dedup owner asks: per source,
    // chunk instances vs distinct chunk contents and the duplicate
    // share in exact ppm. Scale: chunking is a pure per-row projection
    // (no shuffle); the rollup is one |sources|-keyed aggregate with a
    // distinct-chunk count keyed by (source, md5) — the corpus is
    // scanned once.
    QuerySpec.sqlBacked("q244_cdc_chunks",
      s"""WITH $cdcChunkCtesSql
         |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
         |  CAST(sum(clen) AS BIGINT) AS n_chars,
         |  (1000000 * (CAST(count(*) AS BIGINT)
         |              - CAST(count(DISTINCT h) AS BIGINT)))
         |    // CAST(count(*) AS BIGINT) AS dup_ppm
         |FROM cm GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      cdcChunks(s, dir)
        // two-level aggregate (the q69 move, §2): no Expand-2x of the
        // chunk stream for the mixed distinct; (source, h) partials
        // carry each chunk once
        .groupBy(col("source"), col("h"))
        .agg(count(lit(1)).as("c"), sum(col("clen")).as("cl"))
        .groupBy(col("source"))
        .agg(sum(col("c")).cast("long").as("n_chunks"),
          count(lit(1)).cast("long").as("n_unique"),
          sum(col("cl")).as("n_chars"))
        .select(col("source"), col("n_chunks"), col("n_unique"),
          col("n_chars"),
          expr("(1000000 * (n_chunks - n_unique)) div n_chunks")
            .as("dup_ppm"))
        .transform(Tables.tableOrdered(s, dir, "documents")(col("source"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // q246: decontamination at CHUNK granularity — the q63 leakage
    // check run over q244's content-defined chunks instead of every
    // positional 8-gram: a train document is flagged with the number of
    // DISTINCT chunk contents (>= 16 chars, so trivial connective
    // spans don't count) it shares with the eval split. Chunks are
    // variable-length (~divisor chars expected) and boundary-stable
    // under edits, so this catches long verbatim spans with an index a
    // fraction of the gram explode's size — the scalable face of
    // exact-substring decontamination (Lee et al. 2022's concern, run
    // at chunk keys): at 100 TB the eval side's chunk set is
    // benchmark-sized and the train side pays one projection + one
    // equi-join on the chunk hash. The q63/q218 gram checks remain the
    // finer sieve (an 8-token overlap needn't contain a whole chunk);
    // this layer is the cheap long-span sweep run first.
    QuerySpec.sqlBacked("q246_decon_cdc",
      s"""WITH $cdcChunkCtesSql,
         |tr AS (SELECT doc_id, h FROM cm WHERE nib <= 12 AND clen >= 16),
         |te AS (SELECT DISTINCT h FROM cm WHERE nib >= 14 AND clen >= 16)
         |SELECT tr.doc_id AS train_id,
         |  CAST(count(DISTINCT tr.h) AS BIGINT) AS n_shared
         |FROM tr JOIN te USING (h)
         |GROUP BY tr.doc_id ORDER BY train_id""".stripMargin) { (s, dir) =>
      val cm = cdcChunks(s, dir).filter(col("clen") >= 16)
      withScratch(cm) {
        val tr = cm.filter(col("nib") <= 12)
          .select(col("doc_id").as("train_id"), col("h"))
        val te = cm.filter(col("nib") >= 14).select(col("h")).distinct()
        tr.join(te, "h")
          .groupBy(col("train_id"))
          .agg(countDistinct(col("h")).cast("long").as("n_shared"))
          .transform(Tables.tableOrdered(s, dir, "documents")(col("train_id"))) // bounded sort (§2)
      }
    },

    // ------------------------------------------------------------------
    // q248: the COMPOSED decontamination verdict — one flagged-train-
    // docs table across the two doc-keyed leakage layers (the 8-gram
    // sieve of q63 and the long-span CDC chunk sweep of q246), full-
    // outer-joined so a doc caught by EITHER appears once with both
    // evidence counts and the layer count a release gate thresholds on.
    // This is the table a corpus release actually ships: per layer the
    // evidence is already audited (q63/q246 stay the per-layer
    // reports); here the join is flagged-docs-sized — the sliver, not
    // the corpus — so composition is free at 100 TB. (The semantic
    // layer q230 lives in the embeddings id space and composes at the
    // doc<->vec mapping boundary a real pipeline owns; it stays a
    // separate report here.)
    QuerySpec.sqlBacked("q248_decon_layers",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws,
         |    strpos('0123456789abcdef',
         |           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib
         |  FROM documents),
         |g1 AS (
         |  SELECT doc_id, nib,
         |    unnest(list_distinct(list_transform(range(1, len(ws)-6),
         |      i -> md5(array_to_string(ws[i:i+7], ' '))))) AS g
         |  FROM w WHERE len(ws) >= 8),
         |gr AS (SELECT t1.doc_id AS train_id,
         |         CAST(count(DISTINCT t1.g) AS BIGINT) AS n_gram
         |       FROM (SELECT doc_id, g FROM g1 WHERE nib <= 12) t1
         |       JOIN (SELECT DISTINCT g FROM g1 WHERE nib >= 14) t2
         |         USING (g)
         |       GROUP BY t1.doc_id),
         |$cdcChunkCtesSql,
         |ck AS (SELECT t3.doc_id AS train_id,
         |         CAST(count(DISTINCT t3.h) AS BIGINT) AS n_chunk
         |       FROM (SELECT doc_id, h FROM cm
         |             WHERE nib <= 12 AND clen >= 16) t3
         |       JOIN (SELECT DISTINCT h FROM cm
         |             WHERE nib >= 14 AND clen >= 16) t4
         |         USING (h)
         |       GROUP BY t3.doc_id)
         |SELECT COALESCE(gr.train_id, ck.train_id) AS train_id,
         |  COALESCE(gr.n_gram, 0) AS n_gram,
         |  COALESCE(ck.n_chunk, 0) AS n_chunk,
         |  CAST((CASE WHEN COALESCE(gr.n_gram, 0) > 0 THEN 1 ELSE 0 END)
         |     + (CASE WHEN COALESCE(ck.n_chunk, 0) > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_layers
         |FROM gr FULL JOIN ck ON gr.train_id = ck.train_id
         |ORDER BY train_id""".stripMargin) { (s, dir) =>
      val g = gramIndex(s, dir)
      val gr = withScratch(g) {
        g.filter(col("nib") <= 12)
          .select(col("doc_id").as("train_id"), col("g"))
          .join(g.filter(col("nib") >= 14).select(col("g")).distinct(), "g")
          .groupBy(col("train_id"))
          // count(*), not countDistinct: gramIndex is per-doc DISTINCT
          // (WordShingles distinct=true) and the probe side is a
          // distinct gram set, so (train_id, g) is unique post-join —
          // the distinct-agg's extra (train_id, g) exchange buys nothing
          .agg(count(lit(1)).cast("long").as("n_gram"))
      }
      val cm = cdcChunks(s, dir).filter(col("clen") >= 16)
      val ck = withScratch(cm) {
        cm.filter(col("nib") <= 12)
          .select(col("doc_id").as("train_id"), col("h"))
          .join(cm.filter(col("nib") >= 14).select(col("h")).distinct(), "h")
          .groupBy(col("train_id"))
          .agg(countDistinct(col("h")).cast("long").as("n_chunk"))
      }
      gr.join(ck, Seq("train_id"), "full_outer")
        .select(col("train_id"),
          coalesce(col("n_gram"), lit(0L)).as("n_gram"),
          coalesce(col("n_chunk"), lit(0L)).as("n_chunk"))
        .withColumn("n_layers",
          (when(col("n_gram") > 0, 1L).otherwise(0L) +
            when(col("n_chunk") > 0, 1L).otherwise(0L)))
        .transform(Tables.tableOrdered(s, dir, "documents")(col("train_id"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // Embedding-cosine near-dup: exact all-pairs baseline (scale paths:
    // q41's LSH buckets and q103's SemDeDup k-means clusters, both in
    // Similarity.scala). cos >= 0.4 on this corpus marks the
    // near-duplicate tail (max observed cos ~0.51).
    QuerySpec.sqlBacked("q39_dedup_embed_cosine",
      s"""WITH n AS (SELECT vec_id, embedding,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${dotSql("a.embedding", "b.embedding")}/(a.nrm*b.nrm) AS cos
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE ${dotSql("a.embedding", "b.embedding")}/(a.nrm*b.nrm) >= 0.4
         |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      // Fully declarative all-pairs: a broadcast nested-loop self-join
      // scored by the native codegen'd DotProduct expression (identical
      // left-to-right accumulation as the oracle's fold — bit-exact).
      // No driver collect: one side is broadcast by the engine, the
      // other streams partition-parallel, so the plan scales out with
      // the probe side. All-pairs is the exact small-corpus baseline;
      // the 100 TB path is q41's LSH bucketing.
      val emb = Tables(s, dir, "embeddings")
      requireAllPairsSmall(s, emb) // fail loud instead of broadcasting unbounded
      val n = Tables.spread(emb)
        .select(col("vec_id"), col("embedding"),
          sqrt(dot("embedding", "embedding")).as("nrm"))
      val a = n.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
        col("nrm").as("na"))
      val b = n.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
        col("nrm").as("nb"))
      a.join(broadcast(b), col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          (graft.plans.DotProduct(col("ea"), col("eb")) /
            (col("na") * col("nb"))).as("cos"))
        .filter(col("cos") >= 0.4)
        .orderBy(col("a_id"), col("b_id"))
    },

    // ------------------------------------------------------------------
    // Benchmark decontamination: which training documents share an
    // 8-token gram with any test-split document (the q56 hash split) —
    // the leakage check run before training on scraped corpora. Grams
    // are md5-keyed; candidate generation is the same inverted-index
    // equi-join as the dedup family (8-gram document frequency is tiny,
    // so no hot-key cap is needed). At 100 TB the gram index would be
    // materialized once and reused across both sides instead of
    // recomputing per branch.
    QuerySpec.sqlBacked("q63_decontaminate",
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    strpos('0123456789abcdef',
        |           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, nib,
        |    unnest(list_distinct(list_transform(range(1, len(ws)-6),
        |      i -> md5(array_to_string(ws[i:i+7], ' '))))) AS g
        |  FROM w WHERE len(ws) >= 8),
        |tr AS (SELECT doc_id, g FROM g WHERE nib <= 12),
        |te AS (SELECT doc_id, g FROM g WHERE nib >= 14)
        |SELECT tr.doc_id AS train_id, count(DISTINCT tr.g) AS n_shared,
        |       count(DISTINCT te.doc_id) AS n_test_docs
        |FROM tr JOIN te ON tr.g = te.g
        |GROUP BY tr.doc_id ORDER BY train_id""".stripMargin) { (s, dir) =>
      // scratch-cached: tr and te below are two filters over this shared
      // gram index; unmaterialized, the scan + shingling + md5 pipeline
      // runs twice (the same trap jaccardPairs avoids with its base cache)
      val g = gramIndex(s, dir)
      withScratch(g) {
        val tr = g.filter(col("nib") <= 12)
          .select(col("doc_id").as("train_id"), col("g"))
        val te = g.filter(col("nib") >= 14)
          .select(col("doc_id").as("test_id"), col("g"))
        tr.join(te, "g")
          .groupBy(col("train_id"))
          .agg(countDistinct(col("g")).as("n_shared"),
            countDistinct(col("test_id")).as("n_test_docs"))
          .transform(Tables.tableOrdered(s, dir, "documents")(col("train_id"))) // bounded sort (§2)
      }
    },

    // ------------------------------------------------------------------
    // q218: q63's decontamination report driven through the native
    // Aho–Corasick kernel instead of the gram equi-join — the automaton
    // is built ONCE at plan time from the test split's distinct 8-gram
    // TABLE (ContainsAny.fromFrame: distributed distinct + fail-loud
    // cap, then one bounded collect — the blocklist is eval-corpus-
    // sized, not training-corpus-sized), and every training document
    // then pays ONE O(|text|) pass whatever the pattern count, where
    // the join path shuffles the training side's full gram explode.
    // Token alignment rides space padding: patterns are " g8 " scanned
    // over " text " — with the split(' ') token convention a padded
    // substring hit IS a token-aligned 8-gram occurrence, so n_shared
    // (distinct patterns found) equals q63's count(DISTINCT shared
    // grams) exactly and the oracle is q63's own CTE chain minus the
    // per-test-doc attribution (which needs the join's provenance —
    // that report stays q63). The path is AUTO-SELECTED on the
    // blocklist's position on the operating curve (the assignAuto
    // doctrine): one distributed distinct-count decides, and past the
    // automaton cap the SAME report comes from the distributed gram
    // equi-join (q63's shape) instead of refusing — deterministically
    // identical output either way (DecontaminateAcSpec pins the two
    // paths against each other across the cap). At 100 TB: bounded
    // eval blocklists ride the one-pass kernel with no shuffle at all;
    // corpus-shaped test splits fall back to the join, whose cost
    // class q63 already carries.
    QuerySpec.sqlBacked("q218_decontaminate_ac",
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    strpos('0123456789abcdef',
        |           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, nib,
        |    unnest(list_distinct(list_transform(range(1, len(ws)-6),
        |      i -> array_to_string(ws[i:i+7], ' ')))) AS g
        |  FROM w WHERE len(ws) >= 8),
        |tr AS (SELECT doc_id, g FROM g WHERE nib <= 12),
        |te AS (SELECT DISTINCT g FROM g WHERE nib >= 14)
        |SELECT tr.doc_id AS train_id, count(DISTINCT tr.g) AS n_shared
        |FROM tr JOIN te USING (g)
        |GROUP BY tr.doc_id ORDER BY train_id""".stripMargin) { (s, dir) =>
      val docs = Tables.spread(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          (instr(lit("0123456789abcdef"),
            substring(md5(col("doc_id").cast("string")), 1, 1)) - 1).as("nib"))
      val tePats = docs.filter(col("nib") >= 14)
        .select(explode(
          graft.plans.WordShingles(col("text"), 8, distinct = true)).as("g8"))
        .distinct()
      val max = s.conf.get(graft.plans.ContainsAny.MaxPatternsKey,
        graft.plans.ContainsAny.MaxPatternsDefault.toString).toLong
      withScratch(tePats) {
        val n = tePats.count()
        // n == 0 (no eval split at all) routes to the join, whose empty
        // result IS the right report — fromFrame would fail loud on an
        // empty pattern frame, which is correct for a blocklist API but
        // not for a corpus that simply has nothing to decontaminate
        if (n > 0 && n <= max) {
          // bounded blocklist: one automaton pass per training doc. The
          // cap was just gated on the persisted distinct frame, so the
          // padded patterns collect DIRECTLY (calling fromFrame here
          // would re-distinct + re-count the same frame — one wasted
          // pass over the eval gram set per run); sorted so the
          // embedded literal is deterministic (the fromFrame contract)
          val patArr = tePats
            .select(concat(lit(" "), col("g8"), lit(" ")).as("pat"))
            .orderBy("pat").collect().map(_.getString(0))
          // mirror fromFrame's post-collect re-check: safe today only
          // because WordShingles grams are non-null/non-empty by
          // construction — an invariant enforced nowhere near here, so
          // a future WordShingles change must fail loud (ADVICE r11)
          require(patArr.forall(p => p != null && p.nonEmpty),
            "q218: the eval gram frame produced NULL or empty patterns")
          val nShared = graft.plans.ContainsAny(
            concat(lit(" "), col("text"), lit(" ")), patArr.toSeq)
          docs.filter(col("nib") <= 12)
            .select(col("doc_id").as("train_id"),
              nShared.cast("long").as("n_shared"))
            .filter(col("n_shared") > 0)
            .transform(Tables.tableOrdered(s, dir, "documents")(col("train_id"))) // bounded sort (§2)
        } else {
          // corpus-shaped blocklist: the q63 distributed gram equi-join
          docs.filter(col("nib") <= 12)
            .select(col("doc_id").as("train_id"), explode(
              graft.plans.WordShingles(col("text"), 8, distinct = true))
              .as("g8"))
            .join(tePats, "g8")
            .groupBy(col("train_id"))
            .agg(countDistinct(col("g8")).as("n_shared"))
            .transform(Tables.tableOrdered(s, dir, "documents")(col("train_id"))) // bounded sort (§2)
        }
      }
    },

    // ------------------------------------------------------------------
    // q231: WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    // — the MOSS algorithm) + the doc-pair overlap report they exist
    // for. Instead of indexing EVERY positional 8-gram, each document
    // keeps only the MINIMUM gram hash of every w=4 consecutive-gram
    // window — the selected set is the distinct window-min VALUES, a
    // convention-free definition (the min value per window is the same
    // whatever position-tiebreak a scanner uses). Two properties make
    // this the scale form of the gram family: (a) DENSITY — expected
    // 2/(w+1) of positions are selected, so the inverted index (and the
    // candidate join's traffic) is ~0.4x the full positional explode;
    // (b) GUARANTEE — any shared token run of length >= w + k - 1 = 11
    // is caught with certainty (some window inside the run selects the
    // same gram on both sides), unlike MinHash's per-pair coin flip.
    // The selection is a pure per-row projection (codegen'd HOF chain:
    // shingle -> md5 -> sliding window-min -> distinct), so the ONLY
    // shuffles are the df-cap aggregate and the posting-list equi-join,
    // both on the sparsified index; the q36 MaxShingleDf cap guards the
    // same stop-gram hot keys. Pairs sharing >= 2 selected fingerprints
    // are reported with their overlap count.
    QuerySpec.sqlBacked("q231_winnowing",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |h AS (SELECT doc_id,
         |        list_transform(range(1, len(ws)-6),
         |          i -> md5(array_to_string(ws[i:i+7], ' '))) AS hs
         |      FROM w WHERE len(ws) >= 11),
         |fp AS (SELECT doc_id,
         |         unnest(list_distinct(list_transform(range(1, len(hs)-2),
         |           i -> list_min(hs[i:i+3])))) AS f
         |       FROM h),
         |keep AS (SELECT f FROM fp GROUP BY f
         |         HAVING count(*) <= $MaxShingleDf),
         |fk AS (SELECT doc_id, f FROM fp JOIN keep USING (f))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
         |FROM fk a JOIN fk b ON a.f = b.f AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val fp = Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          graft.plans.WordShingles(col("text"), 8, distinct = false).as("g8"))
        .filter(size(col("g8")) >= 4)
        .select(col("doc_id"), expr("transform(g8, g -> md5(g))").as("hs"))
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(hs) - 4), i -> array_min(slice(hs, i + 1, 4)))")))
          .as("f"))
      // the sparsified index feeds the cap aggregate AND both join sides
      withScratch(fp) {
        val keep = fp.groupBy(col("f")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= MaxShingleDf).select(col("f"))
        val fk = fp.join(keep, "f")
        withScratch(fk) {
          fk.select(col("doc_id").as("a_id"), col("f"))
            .join(fk.select(col("doc_id").as("b_id"), col("f")), "f")
            .filter(col("a_id") < col("b_id"))
            .groupBy(col("a_id"), col("b_id"))
            .agg(count(lit(1)).as("n_shared"))
            .filter(col("n_shared") >= 2)
            .orderBy(col("a_id"), col("b_id"))
        }
      }
    },

    // ------------------------------------------------------------------
    // Decontamination end to end: EMIT the cleaned training corpus — the
    // q56 train split minus every document q63-style gram sharing marks
    // as contaminated (the step a pipeline actually ships; q63 is its
    // report). Anti-join on doc_id: one shuffle beyond the gram join,
    // output is the training table itself. Documents too short to carry
    // an 8-gram cannot leak and are kept.
    QuerySpec.sqlBacked("q70_decontaminated_corpus",
      s"""WITH w AS (
         |  SELECT doc_id, n_chars, string_split(text, ' ') AS ws,
         |    strpos('0123456789abcdef',
         |           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, nib,
         |    unnest(list_distinct(list_transform(range(1, len(ws)-6),
         |      i -> md5(array_to_string(ws[i:i+7], ' '))))) AS g
         |  FROM w WHERE len(ws) >= 8),
         |bad AS (
         |  SELECT DISTINCT tr.doc_id
         |  FROM (SELECT doc_id, g FROM g WHERE nib <= 12) tr
         |  JOIN (SELECT g FROM g WHERE nib >= 14) te USING (g))
         |SELECT doc_id, n_chars FROM w
         |WHERE nib <= 12 AND doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val g = gramIndex(s, dir)
      withScratch(g) {
        val bad = g.filter(col("nib") <= 12).select(col("doc_id"), col("g"))
          .join(g.filter(col("nib") >= 14).select(col("g")), "g")
          .select(col("doc_id")).distinct()
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            (instr(lit("0123456789abcdef"),
              substring(md5(col("doc_id").cast("string")), 1, 1)) - 1).as("nib"))
          .filter(col("nib") <= 12)
          .join(bad, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_chars"))
          .transform(Tables.docOrdered(s, dir)) // bounded sort width (§2)
      }
    },

    // ------------------------------------------------------------------
    // Repeated-passage detection (exact substring dedup, the Lee et al.
    // "Deduplicating Training Data" shape at 8-token granularity):
    // every 8-token window position, grouped by fingerprint, reporting
    // passages present in >= 2 distinct documents with occurrence
    // counts. One shuffle keyed by the passage fingerprint; at 100 TB
    // the group-by key is the fp (near-uniform md5 spread, no skew) and
    // map-side partials keep the shuffle at one record per (task, fp).
    QuerySpec.sqlBacked("q69_repeated_passages",
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-6),
        |    i -> md5(array_to_string(ws[i:i+7], ' ')))) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |  WHERE len(ws) >= 8)
        |SELECT g AS passage_fp, count(DISTINCT doc_id) AS n_docs,
        |       count(*) AS n_occurrences, min(doc_id) AS first_doc
        |FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY passage_fp""".stripMargin) { (s, dir) =>
      Tables.spread(s, dir, "documents")
        .select(col("doc_id"),
          graft.plans.WordShingles(col("text"), 8, distinct = false).as("g8"))
        .select(col("doc_id"), explode(col("g8")).as("g8s"))
        .select(col("doc_id"), md5(col("g8s")).as("passage_fp"))
        // two-level aggregate instead of countDistinct mixed with plain
        // aggs (§2): the mixed form Expands every exploded 8-gram row
        // 2x through the shuffle; (fp, doc) partials carry each input
        // row once and the second exchange is fp-distinct-sized
        .groupBy(col("passage_fp"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("passage_fp"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("c")).as("n_occurrences"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("passage_fp"))
    },

    // ------------------------------------------------------------------
    // Duplicate-cluster formation: connected components over the q36
    // near-dup pairs ([[graft.operators.ConnectedComponents]], iterative
    // min-label propagation — the Pregel CC shape expressed
    // relationally). Pairs only say "a~b"; training-set dedup needs
    // whole components so one canonical doc survives per CLUSTER, not
    // per pair. The oracle computes the same components by recursive
    // min-reachability (tractable at oracle scale; the iterative form
    // is the one that scales).
    QuerySpec.sqlBacked("q65_dup_clusters",
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |$ccCtesSql
         |SELECT doc_id, cluster_id FROM comp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.ConnectedComponents
        .run(jaccardPairs(s, dir).select(col("a_id"), col("b_id")))
        .select(col("node").as("doc_id"), col("cluster_id"))
        .transform(Tables.docOrdered(s, dir)) // bounded sort width (§2)
    },

    // ------------------------------------------------------------------
    // End-to-end dedup resolution: per q65 cluster, keep the longest
    // member (doc_id tiebreak) — candidates (q36) -> clusters (q65) ->
    // one canonical survivor. Argmax is a partial-aggregating struct
    // min, the n_chars column comes from the table (no text rescan for
    // lengths), and the only shuffle beyond clustering is one tiny
    // aggregate keyed by cluster.
    QuerySpec.sqlBacked("q66_canonical_keep",
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |$ccCtesSql
         |SELECT cluster_id, doc_id AS keep_id, n_members FROM (
         |  SELECT cluster_id, doc_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY n_chars DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM comp JOIN documents USING (doc_id))
         |WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      val comp = graft.operators.ConnectedComponents
        .run(jaccardPairs(s, dir).select(col("a_id"), col("b_id")))
        .select(col("node").as("doc_id"), col("cluster_id"))
      comp
        .join(Tables(s, dir, "documents")
          .select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy(col("cluster_id"))
        .agg(min(struct((-col("n_chars")).as("nn"), col("doc_id").as("id")))
          .as("m"), count(lit(1)).as("n_members"))
        .select(col("cluster_id"), col("m.id").as("keep_id"),
          col("n_members"))
        .transform(Tables.tableOrdered(s, dir, "documents")(col("cluster_id"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // q238: CHAINING audit of the transitive-closure dedup — the known
    // failure mode of CC-based clustering (q65): A~B and B~C put A and
    // C in one cluster even when A and C are NOT near-dups, and long
    // chains quietly merge unrelated documents into one "duplicate"
    // group that a keep-one policy (q66) then decimates. This report
    // measures that artifact: per cluster SIZE, how many member pairs
    // the clusters contain (Σ sz·(sz−1)/2 — derived ARITHMETICALLY
    // from sizes, no pair join anywhere) vs how many are directly
    // linked by a q36 edge, and the chained share in exact ppm. Size-2
    // rows are a built-in sanity check (1 pair, 1 edge, chain 0);
    // rising chain_ppm at larger sizes is the signal to tighten the
    // Jaccard threshold or switch the policy to per-edge keep-best
    // (q46/q66's alternatives). Scale: CC is the audited operator
    // itself; the audit adds one node-keyed join (edge→cluster stamp)
    // and two bounded-key aggregates — nothing quadratic.
    QuerySpec.sqlBacked("q238_chain_audit",
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |$ccCtesSql,
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
         |       FROM comp GROUP BY cluster_id),
         |lk AS (SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_linked
         |       FROM jp JOIN comp c ON jp.a_id = c.doc_id
         |       GROUP BY c.cluster_id),
         |per AS (SELECT s.cluster_id, s.sz,
         |          s.sz * (s.sz - 1) // 2 AS n_pairs,
         |          coalesce(l.n_linked, 0) AS n_linked
         |        FROM sz s LEFT JOIN lk l ON l.cluster_id = s.cluster_id)
         |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
         |  CAST(sum(n_linked) AS BIGINT) AS n_linked,
         |  (1000000 * (CAST(sum(n_pairs) AS BIGINT)
         |              - CAST(sum(n_linked) AS BIGINT)))
         |    // greatest(CAST(sum(n_pairs) AS BIGINT), CAST(1 AS BIGINT))
         |    AS chain_ppm
         |FROM per GROUP BY sz ORDER BY cluster_size""".stripMargin) {
      (s, dir) =>
      val jp = jaccardPairs(s, dir).select(col("a_id"), col("b_id"))
      withScratch(jp) {
        val comp = graft.operators.ConnectedComponents.run(jp)
          .select(col("node").as("doc_id"), col("cluster_id"))
        withScratch(comp) {
          // ONE tagged cluster aggregate instead of sz + lk + a left
          // join (§2 pass fusion): member rows carry d=1, a_id-stamped
          // edge rows l=1; both are cluster_id-keyed, so one exchange
          // yields both counts, and every cluster keeps its row via its
          // members (sum(l) = 0 replaces the old null-coalesce)
          val tagged = comp
            .select(col("cluster_id"), lit(1L).as("d"), lit(0L).as("l"))
            .unionByName(jp
              .join(comp, jp("a_id") === comp("doc_id"))
              .select(col("cluster_id"), lit(0L).as("d"), lit(1L).as("l")))
          tagged.groupBy(col("cluster_id"))
            .agg(sum(col("d")).as("sz"), sum(col("l")).as("n_linked"))
            .select(col("sz"),
              expr("sz * (sz - 1) div 2").as("n_pairs"),
              col("n_linked"))
            .groupBy(col("sz").as("cluster_size"))
            .agg(count(lit(1)).cast("long").as("n_clusters"),
              sum(col("n_pairs")).as("n_pairs"),
              sum(col("n_linked")).as("n_linked"))
            .withColumn("chain_ppm", expr(
              """(1000000 * (n_pairs - n_linked))
                | div greatest(n_pairs, CAST(1 AS BIGINT))"""
                .stripMargin.replace("\n", "")))
            .transform(Tables.tableOrdered(s, dir, "documents")(col("cluster_size"))) // bounded sort (§2)
        }
      }
    },

    // ------------------------------------------------------------------
    // q239: duplicate PROVENANCE mix — for each near-dup cluster (q65),
    // how many distinct SOURCES its members span, rolled up to a
    // (cluster_size × n_sources) contingency report. The same duplicate
    // mass means different fixes depending on this split: n_sources = 1
    // clusters are within-source boilerplate (fix the extractor or
    // dedup at ingest, q80's admission gate), multi-source clusters are
    // syndication/mirroring (fix the source list or downweight, q225's
    // effective-size input). Scale: CC is the already-audited operator;
    // the audit adds one node-keyed join to stamp each member's source
    // and two bounded-key aggregates (clusters, then the tiny
    // size×sources grid) — nothing quadratic, nothing corpus-sized
    // past the stamp join.
    QuerySpec.sqlBacked("q239_dup_provenance",
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |$ccCtesSql,
         |per AS (SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS sz,
         |          CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
         |        FROM comp c JOIN documents d ON d.doc_id = c.doc_id
         |        GROUP BY c.cluster_id)
         |SELECT sz AS cluster_size, n_sources,
         |  CAST(count(*) AS BIGINT) AS n_clusters
         |FROM per GROUP BY sz, n_sources
         |ORDER BY cluster_size, n_sources""".stripMargin) { (s, dir) =>
      val comp = graft.operators.ConnectedComponents
        .run(jaccardPairs(s, dir).select(col("a_id"), col("b_id")))
        .select(col("node").as("doc_id"), col("cluster_id"))
      comp
        .join(Tables(s, dir, "documents")
          .select(col("doc_id"), col("source")), "doc_id")
        // two-level aggregate (the q69 move, §2): no Expand-2x of the
        // stamped member rows for the mixed distinct
        .groupBy(col("cluster_id"), col("source"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("cluster_id"))
        .agg(sum(col("c")).cast("long").as("sz"),
          count(lit(1)).cast("long").as("n_sources"))
        .groupBy(col("sz").as("cluster_size"), col("n_sources"))
        .agg(count(lit(1)).cast("long").as("n_clusters"))
        .transform(Tables.tableOrdered(s, dir, "documents")(col("cluster_size"), col("n_sources"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // Duplicate-graph centrality (operators.PageRank): exact-integer
    // PageRank over the q36 near-dup edges — which document is the
    // authority center of its duplicate neighborhood (an alternative
    // canonical-keep signal to q66's longest-member rule: the most-
    // connected variant, not the longest one). Micro-unit ranks,
    // rank div outdeg contributions, damping as (85*sum) div 100 —
    // every step order-free integer arithmetic, so the 3-iteration
    // recurrence unrolls into an engine-exact oracle exactly like q98's
    // k-means. Per iteration: one shuffle keyed by dst + the rank join
    // keyed by src (Pregel shape); edges/degrees persist for the run.
    QuerySpec.sqlBacked("q105_pagerank", {
      // full-node-set recurrence: an in-degree-0 node keeps the bare
      // damping term instead of dropping out (the operator's contract;
      // equivalent on these symmetric edges, faithful on any edges)
      val rounds = (1 to 3).map { t =>
        s"""r$t AS (SELECT d0.src AS node,
           |  150000 + (85 * coalesce(i.s, 0)) // 100 AS pr
           |FROM d d0 LEFT JOIN (
           |  SELECT e.dst, sum(r.pr // d.deg) AS s
           |  FROM e JOIN r${t - 1} r ON r.node = e.src
           |         JOIN d ON d.src = e.src
           |  GROUP BY e.dst) i ON i.dst = d0.src)""".stripMargin
      }.mkString(",\n")
      s"""WITH $jaccardPairsCtes,
         |e AS (SELECT a_id AS src, b_id AS dst FROM jp
         |      UNION ALL SELECT b_id, a_id FROM jp),
         |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM d),
         |$rounds
         |SELECT node AS doc_id, CAST(pr AS BIGINT) AS pr
         |FROM r3 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val jp = jaccardPairs(s, dir).select(col("a_id"), col("b_id"))
      val edges = jp.union(jp.select(col("b_id"), col("a_id")))
      graft.operators.PageRank.run(edges, iters = 3)
        .select(col("node").as("doc_id"), col("pr"))
        .transform(Tables.docOrdered(s, dir)) // bounded sort width (§2)
    },

    // ------------------------------------------------------------------
    // Canonical selection — the step after candidate detection in a real
    // dedup pipeline: cluster by identical simhash fingerprint, keep the
    // longest document per cluster (doc_id tiebreak), report how many
    // near-dups were dropped. One window over the fp partitioning; at
    // 100 TB fp is the shuffle key and clusters are tiny, so no skew.
    QuerySpec.sqlBacked("q46_dedup_keep_best",
      s"""WITH toks AS (SELECT doc_id, text,
         |    list_transform(string_split(text, ' '), t -> md5(t)) AS hs
         |  FROM documents),
         |fps AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
         |          $fpSql AS fp FROM toks),
         |ranked AS (SELECT doc_id, fp, n_tok,
         |    row_number() OVER (PARTITION BY fp ORDER BY n_tok DESC, doc_id)
         |      AS rn,
         |    count(*) OVER (PARTITION BY fp) AS sz
         |  FROM fps)
         |SELECT fp, doc_id AS keep_id, n_tok, sz - 1 AS n_dropped
         |FROM ranked WHERE rn = 1 ORDER BY fp""".stripMargin) { (s, dir) =>
      val nTok = Tables(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      val wr = w.orderBy(col("n_tok").desc, col("doc_id"))
      simhashFps(s, dir)
        .join(nTok, "doc_id")
        .withColumn("rn", row_number().over(wr))
        .withColumn("sz", count(lit(1)).over(w))
        .filter(col("rn") === 1)
        .select(col("fp"), col("doc_id").as("keep_id"), col("n_tok"),
          (col("sz") - 1).as("n_dropped"))
        .transform(Tables.tableOrdered(s, dir, "documents")(col("fp"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // Decontamination, bloom-prefiltered — the 100 TB execution of q63's
    // semantics. The test split's grams are folded into a ~1 MB bloom
    // filter (fixed-size mergeable partials, built by ONE tiny scalar
    // subquery and bound once as a constant), and the TRAIN side — the
    // 100 TB side — is probed at the scan: clean grams die in the
    // projection and never reach the shuffle. A bloom has no false
    // negatives, so the exact confirm join over the surviving sliver
    // returns exactly the unfiltered join's answer; false positives
    // only cost a few extra probe rows. Native
    // BloomFilterAggregate/MightContain (codegen'd, internal to Spark's
    // runtime row-filtering) exposed via [[graft.plans.GraftExtensions]].
    QuerySpec.sqlBacked("q72_decontaminate_bloom",
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    strpos('0123456789abcdef',
        |           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, nib,
        |    unnest(list_distinct(list_transform(range(1, len(ws)-6),
        |      i -> md5(array_to_string(ws[i:i+7], ' '))))) AS g
        |  FROM w WHERE len(ws) >= 8),
        |tr AS (SELECT doc_id, g FROM g WHERE nib <= 12),
        |te AS (SELECT DISTINCT g FROM g WHERE nib >= 14)
        |SELECT tr.doc_id AS train_id, count(*) AS n_shared
        |FROM tr JOIN te USING (g)
        |GROUP BY train_id ORDER BY train_id""".stripMargin) { (s, dir) =>
      // NO shared gram cache here, unlike q63: its two branches feed one
      // job, where the persist pays for itself; q72's te side must
      // materialize FIRST (the scalar subquery runs before the main
      // query), and building the 2.3M-row string cache costs more than
      // one recompute pass (measured 8.7 s vs 4.2 s at 10x sf0.1).
      // Left lazy, the nib-filters push below the shingling instead:
      // the te job shingles only its 2/16 of the corpus, checkpointed
      // at its real (small) size, and the train side is shingled
      // exactly once, fused with the bloom probe in the main job.
      // Per-run unique view names (two q72 runs may share a session), and
      // drop-in-finally: sql() analyzes eagerly, so the returned plan no
      // longer needs the views — but if analysis THROWS, fixed
      // always-dropped names would leak te's checkpoint blocks (and two
      // global names) for the session lifetime. Released, the context
      // cleaner reclaims the blocks when the caller drops the result, the
      // same contract as withScratch.
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val (vte, vtr) = (s"graft_q72_te_$tag", s"graft_q72_tr_$tag")
      try {
        // lazy (r16): the main query's job materializes it - the bloom
        // scalar subquery and the verify join read one cached RDD
        val te = gramIndex(s, dir).filter(col("nib") >= 14)
          .select(col("g")).distinct().localCheckpoint(eager = false)
        te.createOrReplaceTempView(vte)
        gramIndex(s, dir).filter(col("nib") <= 12)
          .select(col("doc_id"), col("g"))
          .createOrReplaceTempView(vtr)
        s.sql(s"""
          |WITH cand AS (
          |  SELECT doc_id, g FROM $vtr
          |  WHERE graft_bloom_contains(
          |    (SELECT graft_bloom_agg(xxhash64(g), 262144L)
          |     FROM $vte),
          |    xxhash64(g)))
          |SELECT doc_id AS train_id, count(*) AS n_shared
          |FROM cand JOIN $vte USING (g)
          |GROUP BY doc_id ORDER BY train_id""".stripMargin)
      } finally {
        s.catalog.dropTempView(vte)
        s.catalog.dropTempView(vtr)
      }
    },

    // ------------------------------------------------------------------
    // Containment near-dup (one-sided overlap): C(a->b) = |sh(a) n
    // sh(b)| / |sh(a)|. Jaccard misses a short document embedded
    // verbatim in a much longer one (the union term swamps the
    // intersection); containment is the standard detector for that
    // quote/subset case. Same posting-list candidate generation as q36
    // — candidates and intersection counts are shared machinery — then
    // each ordered pair is scored by ITS OWN length. Emitted where
    // either direction >= 0.9 with both directions reported.
    QuerySpec.sqlBacked("q75_dedup_containment",
      s"""WITH $jaccardContainmentCtes
         |SELECT a_id, b_id, c_ab, c_ba FROM cpairs
         |WHERE c_ab >= 0.9 OR c_ba >= 0.9
         |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val base = shingled(s, dir)
      withScratch(base) {
        candidatePairs(base)
          .select(col("a_id"), col("b_id"),
            (col("inter").cast("double") / col("na").cast("double")).as("c_ab"),
            (col("inter").cast("double") / col("nb").cast("double")).as("c_ba"))
          .filter(col("c_ab") >= 0.9 || col("c_ba") >= 0.9)
          .orderBy(col("a_id"), col("b_id"))
      }
    },

    // ------------------------------------------------------------------
    // Incremental-ingest dedup — the daily shape of a corpus pipeline:
    // a NEW batch (the q56 test nibbles, 2/16) is admitted against the
    // EXISTING corpus (14/16), never batch-vs-batch: each batch doc is
    // 'exact_dup' (content fingerprint already present), 'near_dup'
    // (shares a minhash band with an existing doc and >= 8/16 signature
    // slots agree, q37's threshold), or 'new'. Asymmetric band join:
    // the existing side's band index is what a production pipeline
    // would keep materialized between ingests; per-ingest cost scales
    // with the BATCH, not the corpus.
    QuerySpec.sqlBacked("q80_incremental_ingest", {
      val sigs = (0 until K).map(i =>
        s"list_min(list_transform(sh, s -> md5('$i:' || s))) AS s$i").mkString(", ")
      val sigArr = (0 until K).map(i => s"s$i").mkString("[", ",", "]")
      val bands = (0 until B).map(j =>
        s"md5(s${4*j}||s${4*j+1}||s${4*j+2}||s${4*j+3}) AS b$j").mkString(", ")
      s"""WITH nibs AS (SELECT doc_id, text,
         |    strpos('0123456789abcdef',
         |           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib,
         |    md5(lower(trim(text))) AS fp FROM documents),
         |base AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
         |      i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS sh
         |  FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents)
         |  WHERE len(ws) >= 3),
         |sig AS (SELECT doc_id, $sigs FROM base),
         |sig2 AS (SELECT doc_id, $sigArr AS sig, $bands FROM sig),
         |band AS (SELECT s.doc_id, nib, sig, j, [b0,b1,b2,b3][j+1] AS bh
         |         FROM sig2 s JOIN nibs USING (doc_id),
         |              unnest([0,1,2,3]) AS t(j)),
         |pair AS (SELECT a.doc_id AS bid, b.doc_id AS eid,
         |           any_value(a.sig) AS sa, any_value(b.sig) AS sb
         |         FROM band a JOIN band b ON a.j = b.j AND a.bh = b.bh
         |         WHERE a.nib >= 14 AND b.nib <= 13
         |         GROUP BY a.doc_id, b.doc_id),
         |near AS (SELECT DISTINCT bid FROM pair
         |         WHERE list_sum(list_transform(range(1, ${K+1}),
         |           i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) >= 8),
         |exdup AS (SELECT DISTINCT b.doc_id FROM nibs b
         |          JOIN nibs e ON b.fp = e.fp
         |          WHERE b.nib >= 14 AND e.nib <= 13)
         |SELECT doc_id,
         |  CASE WHEN doc_id IN (SELECT doc_id FROM exdup) THEN 'exact_dup'
         |       WHEN doc_id IN (SELECT bid FROM near) THEN 'near_dup'
         |       ELSE 'new' END AS status
         |FROM nibs WHERE nib >= 14 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val nib = (instr(lit("0123456789abcdef"),
        substring(md5(col("doc_id").cast("string")), 1, 1)) - 1).as("nib")
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), nib,
          md5(lower(trim(col("text")))).as("fp"))
      val sigp = shingled(s, dir)
        .join(docs.select(col("doc_id"), col("nib")), "doc_id")
        .select(col("doc_id"), col("nib"),
          graft.plans.MinHashSig(col("sh"), K).as("sig"))
      withScratch(sigp) {
        val bandArr = (0 until B).map(j =>
          md5(concat((4 * j until 4 * j + 4).map(i => col("sig").getItem(i)): _*)))
        val bands = sigp.select(col("doc_id"), col("nib"), col("sig"),
          posexplode(array(bandArr: _*)).as(Seq("j", "bh")))
        val near = bands.filter(col("nib") >= 14)
          .select(col("doc_id").as("bid"), col("sig").as("sa"),
            col("j"), col("bh"))
          .join(bands.filter(col("nib") <= 13)
            .select(col("doc_id").as("eid"), col("sig").as("sb"),
              col("j"), col("bh")), Seq("j", "bh"))
          .groupBy(col("bid"), col("eid"))
          .agg(first(col("sa")).as("sa"), first(col("sb")).as("sb"))
          .filter(expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), v -> v)) >= 8"))
          .select(col("bid").as("doc_id")).distinct()
        val exdup = docs.filter(col("nib") >= 14)
          .select(col("doc_id"), col("fp"))
          .join(docs.filter(col("nib") <= 13).select(col("fp")), Seq("fp"),
            "left_semi")
          .select(col("doc_id"))
        docs.filter(col("nib") >= 14).select(col("doc_id"))
          .join(exdup.withColumn("ex", lit(1)), Seq("doc_id"), "left")
          .join(near.withColumn("nr", lit(1)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("ex").isNotNull, "exact_dup")
              .when(col("nr").isNotNull, "near_dup")
              .otherwise("new").as("status"))
          .transform(Tables.docOrdered(s, dir)) // bounded sort width (§2)
      }
    },

    // ------------------------------------------------------------------
    // Edit-distance verification of near-dup candidates: the cheap
    // set-based detector (q36 Jaccard) proposes, an O(len^2)
    // Levenshtein pass confirms — run ONLY on the candidate sliver, the
    // production ordering for expensive pairwise scoring (running
    // Levenshtein all-pairs is quadratic twice over). lev and both
    // lengths are integers; the similarity is one double division.
    QuerySpec.sqlBacked("q81_dedup_editdist",
      s"""WITH $jaccardPairsCtes,
         |t AS (SELECT doc_id, text FROM documents)
         |SELECT a_id, b_id, jac,
         |  levenshtein(ta.text, tb.text) AS lev,
         |  1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
         |        / greatest(length(ta.text), length(tb.text)) AS sim
         |FROM jp JOIN t ta ON jp.a_id = ta.doc_id
         |        JOIN t tb ON jp.b_id = tb.doc_id
         |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      jaccardPairs(s, dir)
        .join(t.select(col("doc_id").as("a_id"), col("text").as("ta")), "a_id")
        .join(t.select(col("doc_id").as("b_id"), col("text").as("tb")), "b_id")
        .select(col("a_id"), col("b_id"), col("jac"),
          levenshtein(col("ta"), col("tb")).as("lev"),
          (lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
            greatest(length(col("ta")), length(col("tb")))).as("sim"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // ------------------------------------------------------------------
    // N-gram novelty scoring: per document, the fraction of its
    // distinct 8-grams whose FIRST corpus occurrence (min doc_id) is
    // this document — the dedup-aware curation signal ordering docs by
    // how much genuinely new text they contribute (late rehashes of
    // earlier content score near 0). One gram shuffle for the
    // first-seen index, one join back; both keyed by the gram md5 —
    // uniform, skew-free at any scale.
    QuerySpec.sqlBacked("q86_novelty",
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(ws)-6),
        |      i -> md5(array_to_string(ws[i:i+7], ' '))))) AS g
        |  FROM w WHERE len(ws) >= 8),
        |f AS (SELECT g, min(doc_id) AS fs FROM g GROUP BY g)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN fs = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(CAST(sum(CASE WHEN fs = g.doc_id THEN 1 ELSE 0 END)
        |       AS BIGINT) AS DOUBLE) / count(*) AS novelty
        |FROM g JOIN f USING (g)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin) { (s, dir) =>
      val g = gramIndex(s, dir).select(col("doc_id"), col("g"))
      withScratch(g) {
        val first = g.groupBy(col("g")).agg(min(col("doc_id")).as("fs"))
        g.join(first, "g")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("fs") === col("doc_id"), 1).otherwise(0))
              .as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
          .transform(Tables.docOrdered(s, dir)) // bounded sort width (§2)
      }
    },

    // ------------------------------------------------------------------
    // Cross-source overlap matrix: 8-gram Jaccard between every pair of
    // SOURCES — the contamination/provenance audit run before mixing
    // corpora (a high-overlap source pair means double-counted content
    // at whatever mixing rate). Grams collapse to (source, gram)
    // DISTINCT first, so the pair join's bucket width is bounded by the
    // source count (dozens), never the corpus: output and intermediate
    // are both O(sources^2).
    QuerySpec.sqlBacked("q87_source_overlap",
      """WITH w AS (
        |  SELECT source, string_split(text, ' ') AS ws FROM documents),
        |sg AS (
        |  SELECT DISTINCT source,
        |    unnest(list_distinct(list_transform(range(1, len(ws)-6),
        |      i -> md5(array_to_string(ws[i:i+7], ' '))))) AS g
        |  FROM w WHERE len(ws) >= 8),
        |sz AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
        |inter AS (
        |  SELECT a.source AS sa, b.source AS sb, count(*) AS i
        |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT sa, sb, i AS n_shared,
        |  CAST(i AS DOUBLE) / (za.n + zb.n - i) AS jac
        |FROM inter JOIN sz za ON za.source = sa
        |           JOIN sz zb ON zb.source = sb
        |ORDER BY sa, sb""".stripMargin) { (s, dir) =>
      val sg = Tables.spread(s, dir, "documents")
        .select(col("source"),
          explode(graft.plans.WordShingles(col("text"), 8, distinct = true))
            .as("g8s"))
        .select(col("source"), md5(col("g8s")).as("g"))
      // ONE gram-keyed exchange: collect_set dedups (source, g) map-side
      // and yields each gram's sorted source set, so the pair expansion
      // happens in-row — replacing the old distinct + self-join shape
      // (three corpus-sized exchanges: distinct by (source, g), then
      // both join sides re-keyed by g) with a single exchange (§2). The
      // set is |sources|-bounded (dozens) per gram, never corpus-sized.
      val gs = sg.groupBy(col("g"))
        .agg(sort_array(collect_set(col("source"))).as("ss"))
      withScratch(gs) {
        // per-source distinct-gram sizes: explode the type-level sets
        // (one row per distinct (g, source) — identical to the old
        // distinct frame) and count per source
        val sz = gs.select(explode(col("ss")).as("source"))
          .groupBy(col("source")).agg(count(lit(1)).as("n"))
        // in-row ordered pairs: ss is sorted ascending, so pairing each
        // element with its successors reproduces the sa < sb filter
        gs.filter(size(col("ss")) >= 2)
          .select(explode(expr(
            "flatten(transform(ss, (a, i) -> " +
              "transform(slice(ss, i + 2, size(ss) - i - 1), " +
              "b -> struct(a AS sa, b AS sb))))")).as("p"))
          .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
          .agg(count(lit(1)).as("n_shared"))
          .join(sz.select(col("source").as("sa"), col("n").as("na")), "sa")
          .join(sz.select(col("source").as("sb"), col("n").as("nb")), "sb")
          .select(col("sa"), col("sb"), col("n_shared"),
            (col("n_shared").cast("double") /
              (col("na") + col("nb") - col("n_shared"))).as("jac"))
          .orderBy(col("sa"), col("sb"))
      }
    },

    // ------------------------------------------------------------------
    // q201: sketched source-overlap set algebra — the 100 TB execution
    // of q87's audit: each source's distinct 8-gram set folds into ONE
    // mergeable HLL sketch (DataSketches lgK=14, ~0.8% RSE) in a single
    // scan, and every pairwise overlap then comes from sketch UNION +
    // inclusion-exclusion over the |sources|-row sketch table — no
    // second pass over the gram relation, no per-pair re-aggregation
    // (the q87 exact join stays the gate-scale companion; at 100 TB the
    // gram self-join is the thing you run once, the sketches are what
    // you KEEP and re-combine as sources are added). The driver gate
    // rides the q50 contract pattern: exact counts come from the gram
    // relation, the sketch estimate must land within the documented
    // error bound or `hll_ok` flips and the row hash goes red. All
    // pairs are reported (LEFT join, zero-overlap pairs included) —
    // the sketch path has no trouble with empty intersections.
    QuerySpec.sqlBacked("q201_sketch_overlap",
      """WITH w AS (
        |  SELECT source, string_split(text, ' ') AS ws FROM documents),
        |sg AS (
        |  SELECT DISTINCT source,
        |    unnest(list_distinct(list_transform(range(1, len(ws)-6),
        |      i -> md5(array_to_string(ws[i:i+7], ' '))))) AS g
        |  FROM w WHERE len(ws) >= 8),
        |sz AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
        |inter AS (
        |  SELECT a.source AS sa, b.source AS sb, count(*) AS i
        |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT za.source AS sa, zb.source AS sb,
        |  CAST(za.n AS BIGINT) AS na, CAST(zb.n AS BIGINT) AS nb,
        |  CAST(coalesce(i.i, 0) AS BIGINT) AS n_shared,
        |  TRUE AS hll_ok
        |FROM sz za JOIN sz zb ON za.source < zb.source
        |LEFT JOIN inter i ON i.sa = za.source AND i.sb = zb.source
        |ORDER BY sa, sb""".stripMargin) { (s, dir) =>
      val sg = Tables.spread(s, dir, "documents")
        .select(col("source"),
          explode(graft.plans.WordShingles(col("text"), 8, distinct = true))
            .as("g8s"))
        .select(col("source"), md5(col("g8s")).as("g"))
        .distinct()
      withScratch(sg) {
        val sk = sg.groupBy(col("source"))
          .agg(expr("hll_sketch_agg(g, 14)").as("sk"),
            count(lit(1)).as("n"))
        val ex = sg.select(col("source").as("sa"), col("g"))
          .join(sg.select(col("source").as("sb"), col("g")), "g")
          .filter(col("sa") < col("sb"))
          .groupBy(col("sa"), col("sb"))
          .agg(count(lit(1)).as("i"))
        sk.select(col("source").as("sa"), col("sk").as("ska"),
            col("n").as("na"))
          .join(sk.select(col("source").as("sb"), col("sk").as("skb"),
            col("n").as("nb")), col("sa") < col("sb"))
          .join(ex, Seq("sa", "sb"), "left")
          .withColumn("n_shared", coalesce(col("i"), lit(0L)))
          .select(col("sa"), col("sb"), col("na"), col("nb"),
            col("n_shared"),
            // inclusion-exclusion estimate within 3% of the exact
            // union + 50 absolute (3.75x the lgK=14 RSE; measured
            // max deviation at the gate SFs is well inside)
            (abs(col("na") + col("nb")
              - expr("hll_sketch_estimate(hll_union(ska, skb))")
              - col("n_shared")) * 100 <=
              (col("na") + col("nb") - col("n_shared")) * 3 + 5000)
              .as("hll_ok"))
          .orderBy(col("sa"), col("sb"))
      }
    },

    // ------------------------------------------------------------------
    // Per-source duplication report — the corpus-health table a pipeline
    // publishes after an exact-dedup pass: for each source, how many
    // docs it contributed and how many would be removed under q35's
    // keep-min-doc_id policy (a doc is removed iff its normalized
    // fingerprint group keeps a different doc). Two keyed shuffles
    // (fp, then source), both map-side-combined; the rate is one double
    // division of exact counts.
    QuerySpec.sqlBacked("q97_dup_rate_by_source",
      """WITH f AS (
        |  SELECT doc_id, source, md5(lower(trim(text))) AS fp
        |  FROM documents),
        |k AS (SELECT fp, min(doc_id) AS keep_id FROM f GROUP BY fp)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dups,
        |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS dup_rate
        |FROM f JOIN k USING (fp)
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val f = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(lower(trim(col("text")))).as("fp"))
      val k = f.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
      f.join(k, "fp")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
            .as("n_dups"))
        .select(col("source"), col("n_docs"), col("n_dups"),
          (col("n_dups").cast("double") / col("n_docs")).as("dup_rate"))
        .transform(Tables.tableOrdered(s, dir, "documents")(col("source"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // End-to-end pipeline funnel: the per-source survivor counts of the
    // full corpus-preparation chain composed as ONE report — exact dedup
    // (q35 keep-min policy) → train split (q56 nibble) → 8-gram
    // decontamination vs the test split (q63) → quality gate (q67's
    // Gopher-style rules). This is the health table a production
    // pipeline publishes after each run: where documents die, by stage
    // and by source. Every stage is a per-doc FLAG computed with joins
    // keyed by doc_id / gram (left-semi shapes, no row amplification),
    // and the funnel collapses in ONE source-keyed aggregate — the
    // gram index is built once (the q63/q70/q72 shared stage), and at
    // 100 TB each flag join is exactly the shuffle its standalone
    // query already pays, composed instead of re-scanned.
    QuerySpec.sqlBacked("q111_pipeline_funnel",
      """WITH k AS (SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS kid
        |           FROM documents GROUP BY fp),
        |w AS (SELECT doc_id, text, string_split(text, ' ') AS ws,
        |        strpos('0123456789abcdef',
        |               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib
        |      FROM documents),
        |g AS (SELECT doc_id, nib,
        |        unnest(list_distinct(list_transform(range(1, len(ws)-6),
        |          i -> md5(array_to_string(ws[i:i+7], ' '))))) AS g
        |      FROM w WHERE len(ws) >= 8),
        |te AS (SELECT DISTINCT g FROM g WHERE nib >= 14),
        |contam AS (SELECT DISTINCT g.doc_id FROM g JOIN te USING (g)
        |           WHERE g.nib <= 12),
        |q AS (SELECT doc_id,
        |        CASE WHEN len(gs) = 0 THEN false
        |             ELSE len(ws) BETWEEN 20 AND 1000
        |              AND (CAST(length(text) - (len(ws) - 1) AS DOUBLE)
        |                   / len(ws)) BETWEEN 3.0 AND 10.0
        |              AND 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)
        |                        / len(gs) <= 0.2 END AS qual
        |      FROM (SELECT doc_id, text, ws,
        |              list_transform(range(1, len(ws)-1),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS gs
        |            FROM w)),
        |f AS (SELECT d.source,
        |        (k.kid IS NOT NULL)   AS s_keep,
        |        (w.nib <= 12)         AS s_train,
        |        (c.doc_id IS NULL)    AS s_clean,
        |        q.qual                AS s_qual
        |      FROM documents d
        |      JOIN w ON w.doc_id = d.doc_id
        |      JOIN q ON q.doc_id = d.doc_id
        |      LEFT JOIN k ON k.kid = d.doc_id
        |      LEFT JOIN contam c ON c.doc_id = d.doc_id)
        |SELECT source, count(*) AS n_in,
        |  CAST(sum(CASE WHEN s_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN s_keep AND s_train THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_train,
        |  CAST(sum(CASE WHEN s_keep AND s_train AND s_clean THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clean,
        |  CAST(sum(CASE WHEN s_keep AND s_train AND s_clean AND s_qual
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_final
        |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // stage flags, each the standalone query's own join shape
      val keepIds = docs
        .groupBy(md5(lower(trim(col("text")))).as("fp"))
        .agg(min(col("doc_id")).as("kid"))
        .select(col("kid"))
      val g = gramIndex(s, dir)
      withScratch(g) {
        val te = g.filter(col("nib") >= 14).select(col("g")).distinct()
        val contam = g.filter(col("nib") <= 12).join(te, "g")
          .select(col("doc_id").as("cid")).distinct()
        val gs = graft.plans.WordShingles(col("text"), 3, distinct = false)
        val flagged = docs
          .select(col("doc_id"), col("source"), col("text"),
            split(col("text"), " ").as("ws"), gs.as("gs"),
            (instr(lit("0123456789abcdef"),
              substring(md5(col("doc_id").cast("string")), 1, 1)) - 1)
              .as("nib"))
          .select(col("doc_id"), col("source"),
            (col("nib") <= 12).as("s_train"),
            when(size(col("gs")) === 0, lit(false)).otherwise(
              size(col("ws")).between(20, 1000) &&
              ((length(col("text")) - (size(col("ws")) - 1)).cast("double") /
                size(col("ws"))).between(3.0, 10.0) &&
              (lit(1.0) - size(array_distinct(col("gs"))).cast("double") /
                size(col("gs"))) <= 0.2).as("s_qual"))
          .join(keepIds, col("doc_id") === col("kid"), "left")
          .join(contam, col("doc_id") === col("cid"), "left")
          .select(col("source"), col("kid").isNotNull.as("s_keep"),
            col("s_train"), col("cid").isNull.as("s_clean"), col("s_qual"))
        def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
        flagged.groupBy(col("source"))
          .agg(count(lit(1)).as("n_in"),
            cnt(col("s_keep")).as("n_exact"),
            cnt(col("s_keep") && col("s_train")).as("n_train"),
            cnt(col("s_keep") && col("s_train") && col("s_clean"))
              .as("n_clean"),
            cnt(col("s_keep") && col("s_train") && col("s_clean") &&
              col("s_qual")).as("n_final"))
          .transform(Tables.tableOrdered(s, dir, "documents")(col("source"))) // bounded sort (§2)
      }
    },

    // ------------------------------------------------------------------
    // Prefix-filtered similarity join (PPJoin-lite; Chaudhuri et al.
    // ICDE'06, Xiao et al. WWW'08; MapReduce shape per Vernica et al.
    // SIGMOD'10). q36's posting-list join needs a LOSSY df-cap as its
    // skew guard (shingles in > MaxShingleDf docs are dropped, so a
    // pair sharing only hot shingles is missed). Prefix filtering is
    // the LOSSLESS alternative: order each doc's shingles rarest-first
    // by global document frequency and index only the first
    // n - ceil(tau*n) + 1 of them — if J(A,B) >= tau, the two prefixes
    // provably share a token, so candidate generation over prefix
    // tokens alone misses nothing. Hot shingles prune themselves: a
    // stopword 3-gram sorts LAST within every large doc and never
    // reaches a posting list, so the quadratic hot-key blowup q36 caps
    // away cannot happen here by construction — no tuning knob, no
    // lost pairs. Cost: one vocabulary df aggregate + a token-keyed
    // join to rank shingles (the price of losslessness; Vernica et al.
    // broadcast the ordering when the vocab fits). The oracle is the
    // UNCAPPED exact Jaccard self-join — the gate proves the pruned
    // plan reproduces ground truth exactly, which q36's capped form
    // does not claim. Verification joins candidate pairs back to the
    // two shingle arrays (AQE promotes to broadcast when the candidate
    // set is small; key-shuffled otherwise) and scores exact Jaccard.
    QuerySpec.sqlBacked("q120_dedup_prefix_join",
      s"""WITH base AS ($shingledSql),
         |ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM base),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
         |         max(a.n) AS na, max(b.n) AS nb
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT a_id, b_id,
         |  CAST(inter AS DOUBLE)/CAST(na+nb-inter AS DOUBLE) AS jac
         |FROM pairs
         |WHERE CAST(inter AS DOUBLE)/CAST(na+nb-inter AS DOUBLE) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val base = shingled(s, dir)
      withScratch(base) { ppjoinVerified(base, 0.5) }
    },

    // ------------------------------------------------------------------
    // Sorted-neighborhood blocking (Hernandez & Stolfo SIGMOD'95) — the
    // third candidate-generation class next to posting lists (q36/q120)
    // and LSH banding (q37/q38): sort the corpus ONCE by SimHash
    // fingerprint (hamming-close docs share high bits, so they sort
    // near each other), then pair only rows within a w=8 window of the
    // global order and verify exact hamming <= 2. The defining property
    // is the HARD cost bound: rank-blocks hold <= 2w rows by
    // construction, so candidate cost is O(n*w) even on an adversarial
    // corpus — no hot bucket can exist (an LSH bucket, by contrast, is
    // unbounded: q36 needs a df-cap, q37/q38 inherit the corpus's
    // cluster sizes). The price is recall (a pair differing in a high
    // bit sorts far apart and is missed) — which is why this is the
    // cheap screening pass, not the replacement: SNMSpec pins
    // q121 ⊆ q38 (q38's 4x16-bit block join is lossless for
    // hamming <= 3) and measures the window's coverage.
    // Shape at 100 TB: the sort is ONE range shuffle (GlobalIndex — the
    // q73 operator: distributed sort + per-partition counts, never a
    // single-task window), blocks come from integer rank arithmetic,
    // and the bounded posting lists ride the q36 PostingPairs path.
    QuerySpec.sqlBacked("q121_dedup_sorted_neighborhood",
      s"""WITH toks AS (SELECT doc_id,
         |    list_transform(string_split(text, ' '), t -> md5(t)) AS hs
         |  FROM documents),
         |fps AS (SELECT doc_id, $fpSql AS fp FROM toks),
         |rk AS (SELECT doc_id, fp,
         |    CAST(row_number() OVER (ORDER BY fp, doc_id) - 1 AS BIGINT)
         |      AS rk FROM fps),
         |cand AS (SELECT least(a.doc_id, b.doc_id) AS a_id,
         |           greatest(a.doc_id, b.doc_id) AS b_id,
         |           a.fp AS fa, b.fp AS fb
         |         FROM rk a JOIN rk b
         |           ON b.rk > a.rk AND b.rk - a.rk <= 7)
         |SELECT a_id, b_id, hamming FROM (
         |  SELECT a_id, b_id, CAST(list_sum(list_transform(range(1, 65),
         |    i -> CASE WHEN substr(fa,i,1) = substr(fb,i,1) THEN 0 ELSE 1 END))
         |    AS BIGINT) AS hamming
         |  FROM cand)
         |WHERE hamming <= 2 ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      snmHammingPairs(s, dir, 2).orderBy(col("a_id"), col("b_id"))
    },

    // ------------------------------------------------------------------
    // q260: the SCREEN-THEN-LOSSLESS composition — q121's O(n·w)
    // sorted-neighborhood pass (loosened to hamming <= 8: a screen
    // wants the near-miss neighborhood, not q121's strict dedup cut)
    // marks suspect docs, and q120's lossless PPJoin + exact-Jaccard
    // verify runs on THAT SLICE only. This is the shape SURVEY and the
    // q120 CLASSES note have documented in prose since the census
    // round as the true 100 TB deployment of the lossless gate: the
    // corpus-proportional cost is the screen (one range shuffle +
    // window pairs, hard-bounded at O(n·w)), while the
    // candidate-pair-bound PPJoin — whose pair mass is what grows
    // superlinearly on a whole corpus — sees only the screened slice.
    // Within the slice the gate keeps q120's exactness: every
    // surviving pair is verified at true Jaccard >= tau, and no pair
    // OF THE SLICE is missed (the prefix-filter losslessness
    // argument); recall against the full corpus is the screen's,
    // measured where q121 documents it. The oracle replays the whole
    // composition — screen, slice, UNCAPPED exact Jaccard self-join —
    // so the gate proves both stages end-to-end. Probed in PROBES.json
    // (q260_screened_dedup, class nlogn) next to q120's standalone
    // `pairs` row: the composed 100x cost is screening-bounded, the
    // number that retires the last prose-only scale claim (r13 ask #2).
    QuerySpec.sqlBacked("q260_screened_dedup",
      s"""WITH toks AS (SELECT doc_id,
         |    list_transform(string_split(text, ' '), t -> md5(t)) AS hs
         |  FROM documents),
         |fps AS (SELECT doc_id, $fpSql AS fp FROM toks),
         |rk AS (SELECT doc_id, fp,
         |    CAST(row_number() OVER (ORDER BY fp, doc_id) - 1 AS BIGINT)
         |      AS rk FROM fps),
         |scr AS (SELECT least(a.doc_id, b.doc_id) AS a_id,
         |          greatest(a.doc_id, b.doc_id) AS b_id,
         |          a.fp AS fa, b.fp AS fb
         |        FROM rk a JOIN rk b
         |          ON b.rk > a.rk AND b.rk - a.rk <= 7),
         |hp AS (SELECT a_id, b_id FROM (
         |         SELECT a_id, b_id, CAST(list_sum(list_transform(range(1, 65),
         |           i -> CASE WHEN substr(fa,i,1) = substr(fb,i,1)
         |                THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
         |         FROM scr)
         |       WHERE hamming <= 8),
         |sus AS (SELECT a_id AS doc_id FROM hp UNION SELECT b_id FROM hp),
         |base AS (SELECT sh0.* FROM ($shingledSql) sh0
         |         JOIN sus USING (doc_id)),
         |ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM base),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
         |         max(a.n) AS na, max(b.n) AS nb
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT a_id, b_id,
         |  CAST(inter AS DOUBLE)/CAST(na+nb-inter AS DOUBLE) AS jac
         |FROM pairs
         |WHERE CAST(inter AS DOUBLE)/CAST(na+nb-inter AS DOUBLE) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val suspects = snmHammingPairs(s, dir, 8)
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .distinct()
      // the slice filter is a semi-join on the suspect set; suspects
      // grow with the corpus's dup mass (window-pair-bounded, but NOT
      // dimension-bounded), so no broadcast pin — AQE promotes it
      // while it fits and key-shuffles past that, both correct
      val base = shingled(s, dir).join(suspects, Seq("doc_id"), "leftsemi")
      withScratch(base) { ppjoinVerified(base, 0.5) }
    },

    // ------------------------------------------------------------------
    // Label-propagation communities (operators.LabelPropagation) — the
    // fourth graph operator over the q36 near-dup graph. CC (q65)
    // answers "transitively connected at all": one stray boundary pair
    // chains two clusters into one canonical group. LPA's frequency
    // rule answers "densely clustered": each of 3 synchronous rounds
    // every node adopts its neighbors' most common label (count DESC,
    // label ASC tie order), so a sparse bridge stops propagating. The
    // oracle is the 3 rounds UNROLLED as CTEs — each round a mode
    // aggregation ranked by the same total tie order (the q105
    // fixed-rounds doctrine: classic LPA's random ties and async
    // updates are un-oracle-able by construction).
    QuerySpec.sqlBacked("q129_label_propagation",
      s"""WITH $jaccardPairsCtes,
         |e AS (SELECT a_id AS u, b_id AS v FROM jp
         |      UNION SELECT b_id, a_id FROM jp),
         |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM e),
         |${lpaRoundCtes(3)}
         |SELECT node AS doc_id, lbl AS community FROM l3
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.LabelPropagation
        .run(jaccardPairs(s, dir).select(col("a_id"), col("b_id")), 3)
        .select(col("node").as("doc_id"), col("community"))
        .transform(Tables.docOrdered(s, dir)) // bounded sort width (§2)
    },

    // ------------------------------------------------------------------
    // q219: community QUALITY — grade the q129 LPA partition instead of
    // just emitting it. Per community: modularity contribution
    // Q_c = intra/m − (vol/(2m))² (Newman & Girvan 2004 — positive when
    // the community holds more of its nodes' edge mass than a random
    // graph with the same degrees would) and conductance
    // φ_c = cut/min(vol, 2m−vol) (Kannan/Vempala/Vetta — the
    // bottleneck ratio; low = well-separated). Together they answer the
    // question the dedup pipeline acts on: is this near-dup cluster a
    // real dense family (keep one canonical doc) or an artifact of a
    // few bridge pairs (split it). All counts are exact BIGINTs
    // (intra/cut/vol from two grouped counts over the labeled edge
    // list); the two ratios are single fixed-shape double expressions
    // (the q112 doctrine: identical textual formula both sides, only
    // +,*,/ — hash-exact). Conductance is NULL for a community that
    // owns the whole edge mass (min = 0): undefined, stated not hidden.
    // Scale: one edge-label equi-join (labels are node-sized), two
    // key-bounded grouped counts, a 1-row broadcast total — nothing
    // beyond the LPA rounds themselves shuffles more than the edge
    // list, and the report is |communities| rows.
    QuerySpec.sqlBacked("q219_community_quality",
      s"""WITH $jaccardPairsCtes,
         |e AS (SELECT a_id AS u, b_id AS v FROM jp
         |      UNION SELECT b_id, a_id FROM jp),
         |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM e),
         |${lpaRoundCtes(3)},
         |lab AS (SELECT node, lbl AS community FROM l3),
         |ed AS (SELECT a_id, b_id FROM jp),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
         |ej AS (SELECT la.community AS ca, lb.community AS cb
         |       FROM ed JOIN lab la ON ed.a_id = la.node
         |               JOIN lab lb ON ed.b_id = lb.node),
         |ic AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS intra
         |       FROM ej WHERE ca = cb GROUP BY ca),
         |cc AS (SELECT community, CAST(count(*) AS BIGINT) AS cut FROM (
         |         SELECT ca AS community FROM ej WHERE ca <> cb
         |         UNION ALL SELECT cb FROM ej WHERE ca <> cb)
         |       GROUP BY community),
         |rep AS (SELECT nn.community, nn.n_nodes,
         |          COALESCE(ic.intra, CAST(0 AS BIGINT)) AS intra_edges,
         |          COALESCE(cc.cut, CAST(0 AS BIGINT)) AS cut_edges
         |        FROM (SELECT community, CAST(count(*) AS BIGINT) AS n_nodes
         |              FROM lab GROUP BY community) nn
         |        LEFT JOIN ic USING (community) LEFT JOIN cc USING (community))
         |SELECT community, n_nodes, intra_edges, cut_edges,
         |  2*intra_edges + cut_edges AS vol,
         |  CAST(intra_edges AS DOUBLE) / CAST(m AS DOUBLE)
         |    - (CAST(2*intra_edges + cut_edges AS DOUBLE) / CAST(2*m AS DOUBLE))
         |      * (CAST(2*intra_edges + cut_edges AS DOUBLE) / CAST(2*m AS DOUBLE))
         |    AS modularity,
         |  CAST(cut_edges AS DOUBLE)
         |    / CAST(NULLIF(LEAST(2*intra_edges + cut_edges,
         |        2*m - (2*intra_edges + cut_edges)), 0) AS DOUBLE)
         |    AS conductance
         |FROM rep, mm ORDER BY community""".stripMargin) { (s, dir) =>
      val pr = jaccardPairs(s, dir).select(col("a_id"), col("b_id"))
      withScratch(pr) {
        graft.operators.GraphStats
          .communityQuality(pr, graft.operators.LabelPropagation.run(pr, 3))
          .transform(Tables.tableOrdered(s, dir, "documents")(col("community"))) // bounded sort (§2)
      }
    },

    // ------------------------------------------------------------------
    // q221: taint rank — PERSONALIZED PageRank from the flagged seed set
    // (doc_id ≡ 0 mod 29, q134's contamination flags) over the near-dup
    // graph: random walk with restart (Haveliwala 2002), restart mass
    // pinned to the seeds. The weighted continuation of q134's BFS:
    // hop count says "reachable within k", taint says HOW MUCH of the
    // flagged set's influence lands on each doc — one seed two hops
    // away through a hub scores differently from five seeds one hop
    // away, which is the ordering a blast-radius triage actually wants.
    // Exact integer micro-units end to end (the q105 scheme, restart
    // vector personalized): r0 = 1e6 on seeds else 0, each round
    // r' = (150000 if seed else 0) + (85·Σ pr div deg) div 100 — the
    // oracle is the same recurrence unrolled, so even the fixpoint
    // trajectory hash-matches. Scale: operators.PageRank's Pregel shape
    // (edges persisted pre-partitioned ONCE, one dst-keyed shuffle per
    // round over node-sized frames).
    QuerySpec.sqlBacked("q221_taint_rank", {
      val rounds = (1 to 3).map { t =>
        s"""r$t AS (SELECT sd.node,
           |  CAST(CASE WHEN sd.is_seed = 1 THEN 150000 ELSE 0 END AS BIGINT)
           |    + (85 * coalesce(i.s, 0)) // 100 AS pr
           |FROM sd LEFT JOIN (
           |  SELECT e.dst, sum(r.pr // d.deg) AS s
           |  FROM e JOIN r${t - 1} r ON r.node = e.src
           |         JOIN d ON d.src = e.src
           |  GROUP BY e.dst) i ON i.dst = sd.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $jaccardPairsCtes,
         |e AS (SELECT a_id AS src, b_id AS dst FROM jp
         |      UNION ALL SELECT b_id, a_id FROM jp),
         |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |sd AS (SELECT src AS node,
         |         CASE WHEN src % 29 = 0 THEN 1 ELSE 0 END AS is_seed
         |       FROM d),
         |r0 AS (SELECT node,
         |    CAST(CASE WHEN is_seed = 1 THEN 1000000 ELSE 0 END AS BIGINT)
         |      AS pr FROM sd),
         |$rounds
         |SELECT node AS doc_id, CAST(pr AS BIGINT) AS taint
         |FROM r3 WHERE pr > 0 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val jp = jaccardPairs(s, dir).select(col("a_id"), col("b_id"))
      val edges = jp.union(jp.select(col("b_id"), col("a_id")))
      val seeds = edges.select(col("a_id").as("node")).distinct()
        .filter(col("node") % 29 === 0)
      graft.operators.PageRank.runPersonalized(edges, seeds, iters = 3)
        .filter(col("pr") > 0)
        .select(col("node").as("doc_id"), col("pr").as("taint"))
        .transform(Tables.docOrdered(s, dir)) // bounded sort width (§2)
    },

    // ------------------------------------------------------------------
    // q224: CLUSTER-AWARE train/val/test split — the leakage-free
    // version of q56's hash split. Splitting by doc hash puts two
    // near-duplicates of the same document on opposite sides of the
    // train/test fence (the eval answers are in the training set); the
    // group-wise rule assigns every doc the SPLIT OF ITS q65 near-dup
    // CLUSTER (singletons group as themselves), so a cluster moves as a
    // unit. The report proves it from the data: per split, populations
    // under both rules plus the count of near-dup pairs that CROSS
    // splits — 0 for the cluster rule BY CONSTRUCTION (a nonzero row is
    // a broken-clustering alarm), nonzero for the naive rule (the
    // leakage it would have shipped). Deterministic md5-nibble
    // assignment (the q218 convention): nib ≤ 11 train, 12–13 val,
    // ≥ 14 test. Scale: CC is the existing frontier-shuffle operator,
    // assignment is a projection, the audits are two pair-sized
    // equi-joins against a doc-sized assignment frame, and the report
    // is 3 rows.
    QuerySpec.sqlBacked("q224_cluster_split",
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |$ccCtesSql,
         |asg AS (SELECT doc_id, grp,
         |    CASE WHEN nibg <= 11 THEN 'train'
         |         WHEN nibg <= 13 THEN 'val' ELSE 'test' END AS split,
         |    CASE WHEN nibd <= 11 THEN 'train'
         |         WHEN nibd <= 13 THEN 'val' ELSE 'test' END AS naive_split
         |  FROM (SELECT doc_id, grp,
         |      strpos('0123456789abcdef',
         |        substr(md5(CAST(grp AS VARCHAR)), 1, 1)) - 1 AS nibg,
         |      strpos('0123456789abcdef',
         |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nibd
         |    FROM (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS grp
         |          FROM documents d LEFT JOIN comp c USING (doc_id)))),
         |sp AS (SELECT unnest(['test', 'train', 'val']) AS split),
         |cs AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(DISTINCT grp) AS BIGINT) AS n_groups
         |       FROM asg GROUP BY split),
         |ns AS (SELECT naive_split AS split,
         |         CAST(count(*) AS BIGINT) AS naive_n_docs
         |       FROM asg GROUP BY naive_split),
         |lp AS (SELECT least(x.split, y.split) AS split,
         |         CAST(count(*) AS BIGINT) AS leak_out
         |       FROM jp JOIN asg x ON jp.a_id = x.doc_id
         |                JOIN asg y ON jp.b_id = y.doc_id
         |       WHERE x.split <> y.split GROUP BY 1),
         |ln AS (SELECT least(x.naive_split, y.naive_split) AS split,
         |         CAST(count(*) AS BIGINT) AS naive_leak_out
         |       FROM jp JOIN asg x ON jp.a_id = x.doc_id
         |                JOIN asg y ON jp.b_id = y.doc_id
         |       WHERE x.naive_split <> y.naive_split GROUP BY 1)
         |SELECT sp.split,
         |  coalesce(n_docs, CAST(0 AS BIGINT)) AS n_docs,
         |  coalesce(n_groups, CAST(0 AS BIGINT)) AS n_groups,
         |  coalesce(leak_out, CAST(0 AS BIGINT)) AS leak_out,
         |  coalesce(naive_n_docs, CAST(0 AS BIGINT)) AS naive_n_docs,
         |  coalesce(naive_leak_out, CAST(0 AS BIGINT)) AS naive_leak_out
         |FROM sp LEFT JOIN cs USING (split) LEFT JOIN ns USING (split)
         |        LEFT JOIN lp USING (split) LEFT JOIN ln USING (split)
         |ORDER BY split""".stripMargin) { (s, dir) =>
      import s.implicits._
      val jp = jaccardPairs(s, dir).select(col("a_id"), col("b_id"))
      withScratch(jp) {
        val comp = graft.operators.ConnectedComponents.run(jp)
          .select(col("node").as("doc_id"), col("cluster_id"))
        def nib(c: org.apache.spark.sql.Column) =
          instr(lit("0123456789abcdef"),
            substring(md5(c.cast("string")), 1, 1)) - 1
        def splitOf(n: org.apache.spark.sql.Column) =
          when(n <= 11, "train").when(n <= 13, "val").otherwise("test")
        val asg = Tables.spread(s, dir, "documents").select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("grp"))
          .select(col("doc_id"), col("grp"),
            splitOf(nib(col("grp"))).as("split"),
            splitOf(nib(col("doc_id"))).as("naive_split"))
          // lazy: cs (first of four grouped/joined consumers)
          // materializes it (§5, r15 move). A/B'd r16 against eager
          // (the KCore race concern): lazy 4.30 s vs eager 4.57 s
          // min-of-5 — the sibling-stage races here run on idle cores
          // while eager pays a serialized materialization job.
          .localCheckpoint(eager = false)
        // ONE tagged doc pass for both rules' populations (the q209
        // banding-grid move, §2): each doc contributes a 'c' row keyed
        // by its cluster split (carrying grp for the distinct-group
        // count) and an 'n' row keyed by its naive split (null grp, so
        // countDistinct skips it) — one exchange and one consumer
        // instead of cs + ns as two separate aggregates
        val docStats = asg.select(explode(array(
            struct(lit("c").as("rule"), col("split").as("sp"),
              col("grp").as("g")),
            struct(lit("n").as("rule"), col("naive_split").as("sp"),
              lit(null).cast("long").as("g")))).as("t"))
          .groupBy(col("t.sp").as("split"))
          .agg(
            sum(when(col("t.rule") === "c", 1L).otherwise(0L)).as("n_docs"),
            countDistinct(col("t.g")).as("n_groups"),
            sum(when(col("t.rule") === "n", 1L).otherwise(0L))
              .as("naive_n_docs"))
        val pairSplits = jp
          .join(asg.select(col("doc_id").as("a_id"), col("split").as("xa"),
            col("naive_split").as("na")), "a_id")
          .join(asg.select(col("doc_id").as("b_id"), col("split").as("xb"),
            col("naive_split").as("nb")), "b_id")
          .localCheckpoint(eager = false) // lazy: the leak aggregate —
          // now the frame's ONLY consumer — materializes it; pair-sized
        // same tagged-pass fusion for the two leak audits: one exchange
        // over the (rule-doubled) pair rows that actually cross splits
        val leak = pairSplits.select(explode(array(
            struct(lit("c").as("rule"), col("xa").as("sa"),
              col("xb").as("sb")),
            struct(lit("n").as("rule"), col("na").as("sa"),
              col("nb").as("sb")))).as("t"))
          .filter(col("t.sa") =!= col("t.sb"))
          .groupBy(least(col("t.sa"), col("t.sb")).as("split"))
          .agg(
            sum(when(col("t.rule") === "c", 1L).otherwise(0L))
              .as("leak_out"),
            sum(when(col("t.rule") === "n", 1L).otherwise(0L))
              .as("naive_leak_out"))
        Seq("test", "train", "val").toDF("split")
          .join(docStats, Seq("split"), "left")
          .join(leak, Seq("split"), "left")
          .select(col("split"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_groups"), lit(0L)).as("n_groups"),
            coalesce(col("leak_out"), lit(0L)).as("leak_out"),
            coalesce(col("naive_n_docs"), lit(0L)).as("naive_n_docs"),
            coalesce(col("naive_leak_out"), lit(0L)).as("naive_leak_out"))
          .transform(d => Tables.orderedByBound(d, 3L)(col("split"))) // report-sized (§2)
      }
    },

    // ------------------------------------------------------------------
    // q225: duplicate-weighted EFFECTIVE corpus size — the mixing-table
    // input when the dedup policy is DOWNWEIGHT, not drop: each doc
    // weighs 1/|its q65 cluster| (a family of 4 near-identical docs
    // contributes one doc's worth of signal), so Σ weights is the
    // corpus's effective size and the per-source ratio effective/raw is
    // the redundancy factor a sampling-temperature table (q99) should
    // correct for. Exact integer ppm (1e6 div cluster_size — the
    // truncating div both engines share); singletons weigh exactly
    // 1,000,000. Scale: CC + one cluster-size aggregate + one doc-sized
    // join; report is |sources| rows.
    QuerySpec.sqlBacked("q225_dup_weighted_size",
      s"""WITH RECURSIVE $jaccardPairsCtes,
         |$ccCtesSql,
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csz
         |       FROM comp GROUP BY cluster_id),
         |wd AS (SELECT d.doc_id, d.source,
         |         CAST(1000000 AS BIGINT) // coalesce(sz.csz,
         |           CAST(1 AS BIGINT)) AS w_ppm
         |       FROM documents d
         |       LEFT JOIN comp USING (doc_id)
         |       LEFT JOIN sz ON comp.cluster_id = sz.cluster_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(w_ppm) AS BIGINT) AS eff_docs_ppm
         |FROM wd GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val jp = jaccardPairs(s, dir).select(col("a_id"), col("b_id"))
      val comp = graft.operators.ConnectedComponents.run(jp)
        .select(col("node").as("doc_id"), col("cluster_id"))
      withScratch(comp) {
        val sz = comp.groupBy(col("cluster_id")).agg(count(lit(1)).as("csz"))
        Tables.spread(s, dir, "documents")
          .select(col("doc_id"), col("source"))
          .join(comp, Seq("doc_id"), "left")
          .join(sz, Seq("cluster_id"), "left")
          .select(col("source"),
            expr("CAST(1000000 AS BIGINT) div coalesce(csz, 1L)").as("w_ppm"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("w_ppm")).as("eff_docs_ppm"))
          .transform(Tables.tableOrdered(s, dir, "documents")(col("source"))) // bounded sort (§2)
      }
    },

    // ------------------------------------------------------------------
    // q134: contamination radius — multi-source BFS (operators.Bfs, the
    // fifth graph operator) over the q36 near-dup graph from a flagged
    // seed set (doc_id ≡ 0 mod 29 here; in production the decontamination
    // hit list). Answers "how much of the corpus sits within k hops of a
    // flagged doc" — the blast-radius report that decides whether to drop
    // a cluster or a neighborhood. Hop level = min distance, a
    // well-defined map with no tie rule, so the fixed 3-round unrolled
    // CTE oracle is exact (the q105/q129 doctrine). Scale: edges persist
    // once pre-partitioned on the join side; each round shuffles only
    // the frontier (see Bfs scaladoc).
    QuerySpec.sqlBacked("q134_bfs_radius", {
      def minus(ds: Seq[String]) = ds.map(d =>
        s"NOT EXISTS (SELECT 1 FROM $d x$d WHERE x$d.node = e.u)")
        .mkString(" AND ")
      s"""WITH $jaccardPairsCtes,
         |e AS (SELECT a_id AS u, b_id AS v FROM jp
         |      UNION SELECT b_id, a_id FROM jp),
         |d0 AS (SELECT DISTINCT u AS node FROM e WHERE u % 29 = 0),
         |d1 AS (SELECT DISTINCT e.u AS node FROM e
         |       JOIN d0 ON e.v = d0.node WHERE ${minus(Seq("d0"))}),
         |d2 AS (SELECT DISTINCT e.u AS node FROM e
         |       JOIN d1 ON e.v = d1.node WHERE ${minus(Seq("d0", "d1"))}),
         |d3 AS (SELECT DISTINCT e.u AS node FROM e
         |       JOIN d2 ON e.v = d2.node WHERE ${minus(Seq("d0", "d1", "d2"))})
         |SELECT node AS doc_id, hops FROM (
         |  SELECT node, CAST(0 AS BIGINT) AS hops FROM d0 UNION ALL
         |  SELECT node, 1 FROM d1 UNION ALL
         |  SELECT node, 2 FROM d2 UNION ALL
         |  SELECT node, 3 FROM d3)
         |ORDER BY hops, doc_id""".stripMargin
    }) { (s, dir) =>
      val pr = jaccardPairs(s, dir).select(col("a_id"), col("b_id"))
      val nodes = pr.select(col("a_id").as("node"))
        .union(pr.select(col("b_id").as("node"))).distinct()
      val seeds = nodes.filter(col("node") % 29 === 0)
      graft.operators.Bfs.run(pr, seeds, 3)
        .select(col("node").as("doc_id"), col("hops"))
        .transform(Tables.tableOrdered(s, dir, "documents")(col("hops"), col("doc_id"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // q258: DIAMETER lower bound by double BFS sweep (the
    // Magnien/Latapy/Habib heuristic): one BFS from a deterministic
    // seed (the minimum node id) finds its farthest reachable node
    // (eccentricity tiebreak: smallest id), a second BFS from THAT
    // node yields an eccentricity that lower-bounds the component's
    // diameter — in practice the standard cheap estimate of how
    // chained a near-dup graph is, read with q238 (a diameter-2 graph
    // can't chain; a diameter-8 one is merging strangers). Rounds are
    // FIXED at 8 (the q105/q129 unrolled-oracle doctrine); n_reach on
    // both sweeps shows whether the bound was truncated by the round
    // cap or exhausted the component. Zero driver collects: seeds and
    // the sweep metrics flow as 1-row frames between the two runs,
    // and each per-sweep metric trio (ecc, farthest-min-id, reach) is
    // ONE aggregate — max(struct(hops, −node)) + count.
    QuerySpec.sqlBacked("q258_diameter_sweep", {
      val R = DiamRounds
      def bfsCtes(p: String, seedSql: String): String = {
        def minus(rs: Seq[Int]) = rs.map(r =>
          s"NOT EXISTS (SELECT 1 FROM ${p}d$r x${p}d$r WHERE x${p}d$r.node = e.u)")
          .mkString(" AND ")
        val chain = (1 to R).map { r =>
          s"""${p}d$r AS MATERIALIZED (SELECT DISTINCT e.u AS node FROM e
             |       JOIN ${p}d${r - 1} ON e.v = ${p}d${r - 1}.node
             |       WHERE ${minus(0 until r)})""".stripMargin
        }.mkString(",\n")
        val unions = (0 to R).map(r =>
          s"SELECT node, CAST($r AS BIGINT) AS hops FROM ${p}d$r")
          .mkString(" UNION ALL ")
        s"""${p}d0 AS MATERIALIZED (SELECT $seedSql AS node),
           |$chain,
           |${p}v AS MATERIALIZED ($unions)""".stripMargin
      }
      s"""WITH $jaccardPairsCtes,
         |e AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM jp
         |      UNION SELECT b_id, a_id FROM jp),
         |${bfsCtes("a", "(SELECT min(least(a_id, b_id)) FROM jp)")},
         |${bfsCtes("b",
        "(SELECT min(node) FROM av WHERE hops = (SELECT max(hops) FROM av))")}
         |SELECT
         |  (SELECT node FROM ad0) AS seed,
         |  (SELECT min(node) FROM av
         |   WHERE hops = (SELECT max(hops) FROM av)) AS far1,
         |  (SELECT max(hops) FROM av) AS ecc1,
         |  (SELECT CAST(count(*) AS BIGINT) FROM av) AS n_reach1,
         |  (SELECT min(node) FROM bv
         |   WHERE hops = (SELECT max(hops) FROM bv)) AS far2,
         |  (SELECT max(hops) FROM bv) AS diameter_lb,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bv) AS n_reach2"""
        .stripMargin
    }) { (s, dir) =>
      val jp = jaccardPairs(s, dir).select(col("a_id"), col("b_id"))
      withScratch(jp) {
        val seed = jp.agg(min(least(col("a_id"), col("b_id"))).as("node"))
        def sweep(v: DataFrame, ecc: String, far: String, rch: String) =
          v.agg(max(struct(col("hops"), (-col("node")).as("nn"))).as("m"),
            count(lit(1)).cast("long").as(rch))
            .select(col("m.hops").as(ecc), (-col("m.nn")).as(far), col(rch))
        // symmetrize/persist the edge list ONCE for both sweeps
        val (sym, parts) = graft.operators.Bfs.symmetrize(jp)
        try {
          val s1 = sweep(
            graft.operators.Bfs.runPrepared(sym, parts, seed, DiamRounds),
            "ecc1", "far1", "n_reach1")
          val s2 = sweep(
            graft.operators.Bfs.runPrepared(sym, parts,
              s1.select(col("far1")), DiamRounds),
            "far2_ecc", "far2", "n_reach2")
          seed.select(col("node").as("seed"))
            .crossJoin(s1.select(col("far1"), col("ecc1"), col("n_reach1")))
            .crossJoin(s2.select(col("far2"), col("far2_ecc"),
              col("n_reach2")))
            .select(col("seed"), col("far1"), col("ecc1"), col("n_reach1"),
              col("far2"), col("far2_ecc").as("diameter_lb"),
              col("n_reach2"))
            .localCheckpoint() // consume the sweeps before unpersisting
        } finally sym.unpersist(blocking = false)
      }
    },

    // ------------------------------------------------------------------
    // q152: maximal cross-document repeated SPANS — the ExactSubstr
    // dedup signal (Lee et al., "Deduplicating Training Data Makes
    // Language Models Better"): not "are these docs similar" (q36/q37)
    // but "exactly which spans are copied where", the per-span verdict
    // a surgical dedup pass cuts on. Algorithm: anchor every word
    // 8-gram with its position, posting-list the (doc, pos) occurrences
    // per gram (packed into one long — ids and ints ONLY on the wire,
    // never text), stream ordered pairs per gram (PostingPairs), then
    // collapse chained matches islands-and-gaps style: matches of the
    // same doc pair on the same DIAGONAL (pa − pb) at consecutive
    // positions are one maximal span of length run + 7 words. Exact
    // string anchors (no hashes), so every reported span is a true
    // byte-for-byte repeat and maximality holds wherever anchors are
    // complete; grams hotter than the occurrence cap are dropped from
    // anchoring (the q36 df-cap doctrine — a span bridged only by a
    // stop-phrase splits, reported honestly as two spans). Scale: one
    // shuffle keyed by gram (bounded pair fan-out ≤ cap² per gram), one
    // exchange keyed by (pair, diag) whose partitions are per-pair
    // match counts — never corpus-sized; the window sees only integer
    // positions.
    QuerySpec.sqlBacked("q152_exact_substr",
      s"""WITH $exactSpanCtes
        |SELECT doc_a, doc_b, a_pos, b_pos, span_words FROM spans
        |ORDER BY doc_a, doc_b, a_pos, b_pos""".stripMargin) { (s, dir) =>
      exactSpans(s, dir)
        .orderBy(col("doc_a"), col("doc_b"), col("a_pos"), col("b_pos"))
    },

    // ------------------------------------------------------------------
    // q153: span-cut dedup — APPLY q152's verdicts, the transform half
    // of ExactSubstr dedup: every repeated span loses its copy in the
    // LATER doc (higher doc_id; the earlier occurrence is the keeper).
    // A doc's cut spans from different pairings can overlap, so the
    // intervals are union-merged first (running-max islands per doc —
    // the same islands-and-gaps move as the span chaining, now on
    // ranges), then the surviving words are re-joined in position order
    // and fingerprinted. Emits every doc: words before/removed/after
    // and md5 of the cleaned text, so the driver hash pins the EXACT
    // post-cut corpus, not just the accounting. Scale: the interval
    // frames are span-bounded (tiny next to the corpus); the only
    // corpus-sized exchanges are the word explode keyed by doc and the
    // doc-keyed rebuild aggregate — both per-doc bounded, text crosses
    // the wire only inside its own doc's rebuild.
    QuerySpec.sqlBacked("q153_span_cut",
      s"""WITH $exactSpanCtes,
        |ivl AS (SELECT DISTINCT doc_b AS doc_id, b_pos AS st,
        |          b_pos + span_words AS en FROM spans),
        |brk AS (SELECT doc_id, st, en,
        |  CASE WHEN st > COALESCE(max(en) OVER (PARTITION BY doc_id
        |      ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), CAST(-1 AS BIGINT)) THEN 1 ELSE 0 END AS b
        |  FROM ivl),
        |grp AS (SELECT doc_id, st, en, sum(b) OVER (PARTITION BY doc_id
        |          ORDER BY st, en ROWS UNBOUNDED PRECEDING) AS gid
        |        FROM brk),
        |merged AS (SELECT doc_id, min(st) AS st, max(en) AS en
        |           FROM grp GROUP BY doc_id, gid),
        |w AS (SELECT doc_id, i - 1 AS pos, ss[i] AS word
        |      FROM (SELECT doc_id, string_split(text, ' ') AS ss
        |            FROM documents),
        |           unnest(range(1, len(ss) + 1)) AS t(i)),
        |kept AS (SELECT w.doc_id, w.pos, w.word FROM w
        |         WHERE NOT EXISTS (SELECT 1 FROM merged m
        |           WHERE m.doc_id = w.doc_id
        |             AND w.pos >= m.st AND w.pos < m.en))
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS words_before,
        |  CAST(COALESCE(r.removed, 0) AS BIGINT) AS words_removed,
        |  CAST(len(string_split(d.text, ' ')) - COALESCE(r.removed, 0)
        |    AS BIGINT) AS words_after,
        |  md5(COALESCE(k.txt, '')) AS clean_fp
        |FROM documents d
        |LEFT JOIN (SELECT doc_id, sum(en - st) AS removed FROM merged
        |           GROUP BY doc_id) r USING (doc_id)
        |LEFT JOIN (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS txt
        |           FROM kept GROUP BY doc_id) k USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ivl = exactSpans(s, dir)
        .select(col("doc_b").as("doc_id"), col("b_pos").as("st"),
          (col("b_pos") + col("span_words")).as("en"))
        .distinct()
      val wPrev = Window.partitionBy(col("doc_id"))
        .orderBy(col("st"), col("en"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy(col("doc_id"))
        .orderBy(col("st"), col("en"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val merged = ivl
        .select(col("doc_id"), col("st"), col("en"),
          when(col("st") > coalesce(max(col("en")).over(wPrev), lit(-1L)),
            lit(1)).otherwise(lit(0)).as("b"))
        .select(col("doc_id"), col("st"), col("en"),
          sum(col("b")).over(wRun).as("gid"))
        .groupBy(col("doc_id"), col("gid"))
        .agg(min(col("st")).as("st"), max(col("en")).as("en"))
      val docs = Tables.spread(s, dir, "documents")
      val words = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      val kept = words.join(merged,
        words("doc_id") === merged("doc_id") &&
          col("pos") >= col("st") && col("pos") < col("en"), "left_anti")
      val rebuilt = kept.groupBy(col("doc_id"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")), " ").as("txt"))
      val removed = merged.groupBy(col("doc_id"))
        .agg(sum(col("en") - col("st")).as("removed"))
      docs
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("words_before"))
        .join(removed, Seq("doc_id"), "left")
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("words_before"),
          coalesce(col("removed"), lit(0L)).as("words_removed"),
          (col("words_before") - coalesce(col("removed"), lit(0L)))
            .as("words_after"),
          md5(coalesce(col("txt"), lit(""))).as("clean_fp"))
        .transform(Tables.docOrdered(s, dir)) // bounded sort width (§2)
    },

    // ------------------------------------------------------------------
    // q157: k-core of the near-dup graph (operators.KCore, the sixth
    // graph operator) — the density cut before cluster resolution.
    // q65's CC merges everything a chain of borderline pairs touches;
    // the 2-core drops every node not embedded in at least a cycle of
    // duplication evidence, so chains of stray pairs unravel from the
    // ends inward instead of counting as clusters. 3 synchronous rounds
    // (monotone — each round's survivors shrink), the fixed-rounds
    // doctrine that makes the unrolled-CTE oracle exact; output = the
    // surviving docs with their residual degree. No ties, no floats:
    // the drop rule is an integer comparison per node per round.
    QuerySpec.sqlBacked("q157_kcore", {
      val rounds = (1 to 3).map { i =>
        s"""n$i AS (SELECT u FROM e${i - 1} GROUP BY u
           |        HAVING count(*) >= 2),
           |e$i AS (SELECT e.u, e.v FROM e${i - 1} e
           |        JOIN n$i a ON e.u = a.u JOIN n$i b ON e.v = b.u)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $jaccardPairsCtes,
         |e0 AS (SELECT a_id AS u, b_id AS v FROM jp
         |       UNION SELECT b_id, a_id FROM jp),
         |$rounds
         |SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS deg
         |FROM e3 GROUP BY u ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      graft.operators.KCore
        .run(jaccardPairs(s, dir).select(col("a_id"), col("b_id")), 2, 3)
        .select(col("node").as("doc_id"), col("deg"))
        .transform(Tables.docOrdered(s, dir)) // bounded sort width (§2)
    },

    // ------------------------------------------------------------------
    // q176: weighted contamination distance — SSSP (operators.Sssp, the
    // seventh graph operator) over the near-dup graph with INTEGER
    // symmetric-difference shingle weights (na+nb−2·inter: the add/
    // remove edit count between shingle sets), from the q134 flagged
    // seed set. q134's hop count treats a 0.95-Jaccard twin and a
    // 0.50-Jaccard cousin as equally close; the weighted metric is what
    // an expanding decontamination pass actually wants — a doc two
    // near-identical edges away IS more contaminated than one strong
    // hop's worth of drift away. 3 Bellman-Ford rounds = exact min path
    // weight over ≤3-edge paths, a well-defined integer map (the
    // q105/q129/q134 fixed-round doctrine), so the unrolled-CTE oracle
    // hashes exactly. Scale: edges persist once pre-partitioned; each
    // round shuffles only the improved-distance frontier (see Sssp
    // scaladoc).
    QuerySpec.sqlBacked("q176_sssp_drift", {
      val rounds = (1 to 3).map { i =>
        s"""d$i AS (SELECT node, min(dist) AS dist FROM (
           |  SELECT node, dist FROM d${i - 1}
           |  UNION ALL
           |  SELECT e.v AS node, d.dist + e.w AS dist
           |  FROM e JOIN d${i - 1} d ON e.u = d.node) GROUP BY node)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $jaccardPairsCtes,
         |we AS (SELECT a_id, b_id, na + nb - 2 * inter AS w FROM pairs
         |       WHERE CAST(inter AS DOUBLE)
         |             / CAST(na + nb - inter AS DOUBLE) >= 0.5),
         |e AS (SELECT a_id AS u, b_id AS v, w FROM we
         |      UNION ALL SELECT b_id, a_id, w FROM we),
         |d0 AS (SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS dist
         |       FROM e WHERE u % 29 = 0),
         |$rounds
         |SELECT node AS doc_id, CAST(dist AS BIGINT) AS dist
         |FROM d3 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val wp = weightedPairs(s, dir)
      val nodes = wp.select(col("a_id").as("node"))
        .union(wp.select(col("b_id").as("node"))).distinct()
      val seeds = nodes.filter(col("node") % 29 === 0)
      graft.operators.Sssp.run(wp, seeds, 3)
        .select(col("node").as("doc_id"), col("dist"))
        .transform(Tables.docOrdered(s, dir)) // bounded sort width (§2)
    },

    // ------------------------------------------------------------------
    // q178: entity-resolution match scoring (Fellegi–Sunter shape) —
    // the record-linkage step AFTER blocking: the posting-list stage
    // proposes candidate pairs (ids only on the wire, df-capped — the
    // same generation q36 trusts), then each pair is scored on a field
    // AGREEMENT VECTOR with per-field integer log-odds-style weights:
    // same lang +2/−3, same source +4/−1, sizes within 10% +3/−2,
    // content Jaccard ≥ 0.5 +8/−4. Summed score thresholds into the
    // classic three-way verdict (match / possible / non_match) — the
    // clerical-review triage every linkage pipeline ships. All-integer
    // scoring (the one double, the Jaccard ratio, is a single division
    // both engines evaluate identically — the q36 contract), so the
    // gate is a value hash, not a tolerance. Scale: candidates are
    // blocking-bounded, metadata arrives by two id-keyed joins
    // (payloads never ride the pair exchange), output ≤ candidate
    // count; the weights-as-data shape means retraining them (the EM
    // step of real FS) changes constants, not the plan.
    QuerySpec.sqlBacked("q178_entity_resolution",
      s"""WITH $candidateCtes,
         |m AS (SELECT doc_id, lang, source, n_chars FROM documents),
         |sc AS (SELECT p.a_id, p.b_id,
         |    (CASE WHEN ma.lang = mb.lang THEN 2 ELSE -3 END)
         |  + (CASE WHEN ma.source = mb.source THEN 4 ELSE -1 END)
         |  + (CASE WHEN 10 * abs(ma.n_chars - mb.n_chars)
         |            <= least(ma.n_chars, mb.n_chars) THEN 3 ELSE -2 END)
         |  + (CASE WHEN CAST(p.inter AS DOUBLE)
         |            / CAST(p.na + p.nb - p.inter AS DOUBLE) >= 0.5
         |          THEN 8 ELSE -4 END) AS score
         |  FROM pairs p
         |  JOIN m ma ON p.a_id = ma.doc_id
         |  JOIN m mb ON p.b_id = mb.doc_id)
         |SELECT a_id, b_id, CAST(score AS BIGINT) AS score,
         |  CASE WHEN score >= 10 THEN 'match'
         |       WHEN score >= 3 THEN 'possible'
         |       ELSE 'non_match' END AS verdict
         |FROM sc ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val base = shingled(s, dir)
      val docs = Tables(s, dir, "documents")
      val meta = docs.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"))
      withScratch(base) {
        val scored = candidatePairs(base)
          .join(meta.select(col("doc_id").as("a_id"),
            col("lang").as("la"), col("source").as("sa"),
            col("n_chars").as("ca")), "a_id")
          .join(meta.select(col("doc_id").as("b_id"),
            col("lang").as("lb"), col("source").as("sb"),
            col("n_chars").as("cb")), "b_id")
          .select(col("a_id"), col("b_id"),
            (when(col("la") === col("lb"), 2).otherwise(-3)
              + when(col("sa") === col("sb"), 4).otherwise(-1)
              + when(lit(10) * abs(col("ca") - col("cb"))
                  <= least(col("ca"), col("cb")), 3).otherwise(-2)
              + when(col("inter").cast("double") /
                  (col("na") + col("nb") - col("inter")).cast("double")
                    >= 0.5, 8).otherwise(-4)).cast("long").as("score"))
        scored.select(col("a_id"), col("b_id"), col("score"),
            when(col("score") >= 10, "match")
              .when(col("score") >= 3, "possible")
              .otherwise("non_match").as("verdict"))
          .orderBy(col("a_id"), col("b_id"))
      }
    },

    // ------------------------------------------------------------------
    // ------------------------------------------------------------------
    // q209: the banding tuning curve at SCALE — q203's grid with the
    // exact-truth companion SAMPLED (round-9 ask #6): q203's banding
    // side is cheap (one shared signature frame) but its recall
    // denominator is the FULL q36 posting-list truth, which at the
    // 100x probe cost 89.9 s — the measurement tail, not the
    // production path. Here the truth is the q36 pipeline run on the
    // seeded doc sample doc_id % 4 = 0 (deterministic, so the oracle
    // derives the identical sample; pair survival 1/16, and the cut
    // reaches the shingle explode so the truth join's cost drops by
    // the same factor). recall_ppm_est = hits-in-sample /
    // sampled-truth is the standard two-stage estimator: unbiased in
    // expectation, std err ~ sqrt(r(1-r)/n_true_sampled) — at the 10x
    // probe's ~1.5k sampled pairs that is ~±1.2% absolute at r≈0.85,
    // tight enough to pick (bands, rows). Candidates stay FULL-corpus:
    // the curve tunes the real index, only its grading is sampled.
    QuerySpec.sqlBacked("q209_banding_curve_sampled", {
      val sigs = (0 until K).map(i =>
        s"list_min(list_transform(sh, s -> md5('$i:' || s))) AS s$i")
        .mkString(", ")
      val grid = Seq(2 -> 8, 4 -> 4, 8 -> 2)
      val candCtes = grid.map { case (b, r) =>
        val bands = (0 until b).map(j =>
          "md5(" + (r * j until r * j + r).map(i => s"s$i")
            .mkString("||") + s") AS b$j").mkString(", ")
        val barr = (0 until b).map(j => s"b$j").mkString("[", ",", "]")
        val unn = (0 until b).mkString("[", ",", "]")
        s"""sig2_$b AS (SELECT doc_id, $bands FROM sig),
           |band_$b AS (SELECT doc_id, j, $barr[j+1] AS bh
           |            FROM sig2_$b, unnest($unn) AS t(j)),
           |cand_$b AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM band_$b a JOIN band_$b b
           |    ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id)"""
          .stripMargin
      }.mkString(",\n")
      val rows = grid.map { case (b, r) =>
        s"""SELECT $b AS bands, $r AS rows_per_band,
           |  (SELECT count(*) FROM cand_$b) AS n_cand,
           |  (SELECT count(*) FROM cand_$b c JOIN sjp USING (a_id, b_id))
           |    AS n_hit""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH base AS ($shingledSql),
         |sig AS (SELECT doc_id, $sigs FROM base),
         |$candCtes,
         |${sampledTruthCtes(TruthSampleMod)},
         |stats AS ($rows)
         |SELECT CAST(bands AS INT) AS bands,
         |  CAST(rows_per_band AS INT) AS rows_per_band,
         |  CAST(n_cand AS BIGINT) AS n_cand,
         |  CAST((SELECT count(*) FROM sjp) AS BIGINT) AS n_true_sampled,
         |  CAST(n_hit AS BIGINT) AS n_hit_sampled,
         |  CAST(1000000 * n_hit //
         |    greatest((SELECT count(*) FROM sjp), 1) AS BIGINT)
         |    AS recall_ppm_est
         |FROM stats ORDER BY bands""".stripMargin
    }) { (s, dir) =>
      val sigp = shingled(s, dir)
        .select(col("doc_id"), graft.plans.MinHashSig(col("sh"), K).as("sig"))
      val sjp = jaccardPairs(s, dir, Some(TruthSampleMod))
        .select(col("a_id"), col("b_id"))
      withScratch(sigp, sjp) {
        import s.implicits._
        val nTrue = sjp.agg(count(lit(1)).as("n_true_sampled"))
        // ONE tagged pass over the signature frame for the whole grid
        // (was one explode+groupBy+distinct pipeline — and scratch
        // checkpoint — per grid point, i.e. 3 posting shuffles + 3 pair
        // shuffles + 3 jobs): every config's bands explode together as
        // (cfg, j, bh) cells, so the posting aggregate, the pair
        // generation, the distinct and the truth join each run once,
        // keyed by cfg. Per-config pair SETS are identical — the cfg
        // tag rides the grouping key everywhere a config was its own
        // pipeline before.
        val grid = Seq(2 -> 8, 4 -> 4, 8 -> 2)
        val bandCols = grid.flatMap { case (b, r) =>
          (0 until b).map { j =>
            struct(lit(b).as("cfg"), lit(j).as("j"),
              md5(concat((r * j until r * j + r)
                .map(i => col("sig").getItem(i)): _*)).as("bh"))
          }
        }
        val cand = sigp
          .select(col("doc_id"), explode(array(bandCols: _*)).as("e"))
          .select(col("doc_id"), col("e.cfg").as("cfg"), col("e.j").as("j"),
            col("e.bh").as("bh"))
          .groupBy(col("cfg"), col("j"), col("bh"))
          .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
          .filter(size(col("ds")) >= 2)
          .select(col("cfg"),
            graft.plans.PostingPairs(col("ds")).as(Seq("a", "b")))
          .select(col("cfg"), col("a").as("a_id"), col("b").as("b_id"))
          .distinct()
        Dedup.withScratch(cand) {
          val counts = cand.groupBy(col("cfg"))
            .agg(count(lit(1)).as("n_cand"))
          val hits = cand.join(sjp, Seq("a_id", "b_id"))
            .groupBy(col("cfg")).agg(count(lit(1)).as("n_hit_sampled"))
          // a config whose candidate set is EMPTY at a tiny SF must
          // still report its zero row — drive the report from the
          // literal grid, not from the (possibly key-dropping) groupBys
          grid.toDF("bands", "rows_per_band")
            .join(counts.withColumnRenamed("cfg", "bands"),
              Seq("bands"), "left")
            .join(hits.withColumnRenamed("cfg", "bands"),
              Seq("bands"), "left")
            .crossJoin(broadcast(nTrue))
            .select(col("bands"), col("rows_per_band"),
              coalesce(col("n_cand"), lit(0L)).as("n_cand"),
              col("n_true_sampled"),
              coalesce(col("n_hit_sampled"), lit(0L)).as("n_hit_sampled"))
            .select(col("bands"), col("rows_per_band"), col("n_cand"),
              col("n_true_sampled"), col("n_hit_sampled"),
              expr("1000000L * n_hit_sampled div greatest(n_true_sampled, 1L)")
                .as("recall_ppm_est"))
            .transform(d => Tables.orderedByBound(d, 16L)(col("bands"))) // report-sized (§2)
        }
      }
    }
  )

  /** q120's full lossless pipeline over an arbitrary shingled frame:
    * [[q120RawPairs]] candidate generation, then exact-Jaccard
    * verification — shared by q120 (the whole corpus) and q260 (the
    * SCREENED slice, the SURVEY-documented 100 TB composition). The
    * caller owns base's scratch scope (both consumers re-scan it for
    * candidates and for the sorted verify arrays). */
  private def ppjoinVerified(base: DataFrame, tau: Double): DataFrame = {
    val cands = q120RawPairs(base, tau)
      .distinct()
      // materialize the id-pair frame (two longs per row — KBs-to-
      // MBs at any corpus the candidate regime admits) so the
      // verify joins plan against its REAL size: in one lazy plan
      // the static optimizer broadcast the whole candidate pipeline
      // AND the shingle-array frame (measured 15 s vs 5 s at
      // sf0.1); with the checkpoint the planner broadcasts the
      // small pair side and the arrays never cross an exchange.
      .localCheckpoint()
    // sorted view of the shingle sets — pure projection off the
    // base cache (no join, no regroup): sort once per DOC so the
    // native SortedIntersectCount merge (exact, allocation-free)
    // replaces array_intersect's per-PAIR hash-set build, the
    // dominant verify cost at millions of candidates.
    val sets = base.select(col("doc_id"), array_sort(col("sh")).as("st"))
    cands
      .join(sets.select(col("doc_id").as("a_id"), col("st").as("sa")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("st").as("sb")), "b_id")
      // intersect once per pair: it is the dominant verify cost and
      // appears in both numerator and union-size denominator
      .select(col("a_id"), col("b_id"),
        graft.plans.SortedIntersectCount(col("sa"), col("sb"))
          .as("inter"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jac"))
      .filter(col("jac") >= tau)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** q120's candidate generation off the cached shingle frame — the
    * RAW pair stream (pre-distinct), so the parity spec and the scale
    * probes can measure emission volume directly; q120 distincts and
    * checkpoints it.
    *
    * (set size, doc id) packed into ONE long — 23+40 bits with a
    * fail-loud headroom guard (the q88 doctrine; 2^40 docs clears a
    * 100 TB corpus at any plausible doc size). Packing lets the
    * posting lists carry lengths for free: sorting orders them
    * size-ascending, and the generator fuses PPJoin's length filter
    * INTO pair emission (break at the first too-long partner), so the
    * r6 plan's two doc-length broadcast joins and its separate filter
    * stage disappear, and provably-dead pairs never reach the distinct
    * exchange. With `positional = true` (the round-13 default) each
    * posting-list element also carries the token's 1-based position in
    * its doc's canonical rarest-first order, and
    * [[graft.plans.PositionalBoundedPairs]] additionally prunes
    * co-occurrences whose PPJoin positional bound
    * `1 + min(na - pa, nb - pb)` cannot reach the required overlap
    * `tau/(1+tau)*(na+nb)` — lossless by the first-shared-token
    * argument (proof at the expression). Both variants' size and bound
    * tests run in EXACT integer arithmetic on tau's dyadic
    * decomposition p/q (128-bit product compares), so no boundary pair
    * is FP-pruned at any tau (ADVICE r13).
    *
    * dfreq is the explicit build side (Vernica et al.'s broadcast of
    * the token ordering): it is vocabulary-sized, while ex is the
    * exploded corpus — without the hint Spark's cache-derived
    * estimates picked ex as the build side, a broadcast that is
    * quadratic-memory wrong at 100 TB. If the vocabulary outgrows
    * broadcast range, drop the hint and this becomes a token-keyed
    * shuffle join — the documented price of losslessness. The
    * rarest-first canonical order is the (df, shingle) total order;
    * the tie-break never affects correctness (the oracle is exact
    * Jaccard, independent of which prefix order generated the
    * candidates) — it only pins determinism of the candidate set. */
  private[graft] def q120RawPairs(base: DataFrame, tau: Double,
      positional: Boolean = true): DataFrame = {
    val pid = when(col("doc_id") >= lit(1L << 40) ||
        col("n") >= lit(1 << 23),
        expr("raise_error('graft q120: doc_id/set-size exceed the " +
          "(40,23)-bit packing headroom - widen the pack')")
          .cast("long"))
      .otherwise(shiftleft(col("n").cast("long"), 40) + col("doc_id"))
    val ex = base.select(col("doc_id"), size(col("sh")).as("n"),
        explode(col("sh")).as("s"))
      .select(pid.as("pid"), col("s"))
    val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val nCol = shiftrightunsigned(col("pid"), 40)
    val srt = ex.join(broadcast(dfreq), "s")
      .groupBy(col("pid"))
      .agg(array_sort(collect_list(struct(col("df"), col("s"))))
        .as("srt"))
    // prefix length n - ceil(n*tau) + 1 with ceil computed EXACTLY on
    // tau's rational decomposition p/q when n*p fits a Long (p < 2^38
    // covers every dyadic tau with <= 38-bit precision, incl. the
    // shipped 0.5 where this reduces to the old ceil(n*0.5) value); a
    // full-mantissa reduced numerator (e.g. tau = 0.7) falls back to
    // floor-in-double, which is <= the true ceil — a LONGER prefix,
    // still lossless by construction (extra prefix tokens only add
    // candidates; the generator prunes stay exact either way)
    val (tp, tq) = graft.plans.LengthBoundedPairs.rational(tau)
    val prefLen = (if (tp < (1L << 38))
        nCol - expr(s"(shiftrightunsigned(pid, 40) * ${tp}L + " +
          s"${tq - 1}L) div ${tq}L") + lit(1)
      else nCol - floor(nCol * lit(tau)) + lit(1)).cast("int")
    if (positional) {
      // posexplode's 0-based index within the prefix slice IS the
      // 0-based position within the full canonical order (the slice
      // takes the first prefLen elements), so pos = idx + 1
      srt.select(col("pid"),
          posexplode(slice(col("srt"), lit(1), prefLen)).as(Seq("i", "p")))
        .select(col("pid"), col("p.s").as("s"),
          (col("i") + 1).cast("int").as("pos"))
        .groupBy(col("s"))
        .agg(array_sort(collect_list(struct(col("pid"), col("pos"))))
          .as("ds"))
        .filter(size(col("ds")) >= 2)
        .select(graft.plans.PositionalBoundedPairs(col("ds"), tau)
          .as(Seq("a", "b")))
        .select(col("a").as("a_id"), col("b").as("b_id"))
    } else {
      srt.select(col("pid"),
          explode(slice(col("srt"), lit(1), prefLen)).as("p"))
        .select(col("pid"), col("p.s").as("s"))
        .groupBy(col("s"))
        .agg(sort_array(collect_list(col("pid"))).as("ds"))
        .filter(size(col("ds")) >= 2)
        .select(graft.plans.LengthBoundedPairs(col("ds"), tau)
          .as(Seq("a", "b")))
        .select(col("a").as("a_id"), col("b").as("b_id"))
    }
  }

  /** Dev probe (graft.Probe q120stats): candidate-volume and timing
    * stats for the two q120 generator variants at a scale dir — raw
    * emissions, distinct candidates, and wall time per variant, the
    * numbers that adjudicate whether the positional filter pays at a
    * given corpus regime. */
  private[graft] def q120CandStats(s: SparkSession, dir: String): String = {
    val base = shingled(s, dir)
    base.persist()
    base.count()
    try {
      def timed(df: DataFrame): (Long, Double) = {
        val t0 = System.nanoTime()
        val n = df.count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      Seq(false, true).map { p =>
        val raw = q120RawPairs(base, 0.5, positional = p)
        val (nRaw, tRaw) = timed(raw)
        val (nDist, tDist) = timed(raw.distinct())
        f"variant=${if (p) "positional" else "length-only"}%-11s " +
          f"raw=$nRaw%,d (${tRaw}%.2f s)  distinct=$nDist%,d (${tDist}%.2f s)"
      }.mkString("\n")
    } finally { base.unpersist(blocking = false); () }
  }

  /** The EXACT banding tuning curve — the q203 ledger entry of rounds
    * 5–10, RETIRED from the query inventory in round 11 (round-10 ask
    * #5): its recall denominator is the FULL q36 truth, which made it
    * the measurement tail at scale (89.9 s of truth join at the 100×
    * probe) while the graded index itself is cheap; q209 — the same
    * grid with the SEEDED-sample truth — carries the in-ledger slot.
    * The exact grid survives here as the spec-level ground truth:
    * BandingCurveSpec cross-pins q209's sampled estimator against this
    * curve at the gate SFs. Over the SAME K=16 MinHash signature frame
    * (native MinHashSig, scratch-cached, each config re-bands the
    * cached frame), each grid config (2x8, 4x4, 8x2) generates its
    * candidate pairs by banding and precision/recall land as exact ppm
    * integers against q36's exact-Jaccard truth. */
  private[graft] def bandingCurveExact(s: SparkSession,
      dir: String): DataFrame = {
    val sigp = shingled(s, dir)
      .select(col("doc_id"), graft.plans.MinHashSig(col("sh"), K).as("sig"))
    val jp = jaccardPairs(s, dir).select(col("a_id"), col("b_id"))
    withScratch(sigp, jp) {
      val nTrue = jp.agg(count(lit(1)).as("n_true"))
      val stats = Seq(2 -> 8, 4 -> 4, 8 -> 2).map { case (b, r) =>
        val bandArr = (0 until b).map(j =>
          md5(concat((r * j until r * j + r)
            .map(i => col("sig").getItem(i)): _*)))
        val cand = sigp
          .select(col("doc_id"),
            posexplode(array(bandArr: _*)).as(Seq("j", "bh")))
          .groupBy(col("j"), col("bh"))
          .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
          .filter(size(col("ds")) >= 2)
          .select(graft.plans.PostingPairs(col("ds")).as(Seq("a", "b")))
          .select(col("a").as("a_id"), col("b").as("b_id"))
          .distinct()
        Dedup.withScratch(cand) {
          cand.agg(count(lit(1)).as("n_cand"))
            .crossJoin(cand.join(jp, Seq("a_id", "b_id"))
              .agg(count(lit(1)).as("n_hit")))
            .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
              col("n_cand"), col("n_hit"))
        }
      }
      stats.reduce(_ unionByName _)
        .crossJoin(broadcast(nTrue))
        .select(col("bands"), col("rows_per_band"), col("n_cand"),
          col("n_true"), col("n_hit"),
          expr("1000000L * n_hit div greatest(n_cand, 1L)")
            .as("precision_ppm"),
          expr("1000000L * n_hit div greatest(n_true, 1L)")
            .as("recall_ppm"))
        .transform(d => Tables.orderedByBound(d, 16L)(col("bands"))) // report-sized (§2)
    }
  }

  /** The q36 truth pipeline over the SEEDED doc sample (doc_id % m = 0)
    * as renamed CTEs ending in sjp(a_id, b_id) — q209's oracle body.
    * The df-cap applies to the SAMPLE's postings, matching the Spark
    * side exactly (the truth DEFINITION is pipeline-on-sample). Needs
    * `base` in scope. */
  private def sampledTruthCtes(m: Int): String =
    s"""sbase AS (SELECT * FROM base WHERE doc_id % $m = 0),
       |sex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sbase),
       |sfreq AS (SELECT s FROM sex GROUP BY s
       |          HAVING count(*) <= $MaxShingleDf),
       |sex2 AS (SELECT sex.* FROM sex JOIN sfreq USING (s)),
       |spairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter,
       |         max(a.n) AS na, max(b.n) AS nb
       |  FROM sex2 a JOIN sex2 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |sjp AS (
       |  SELECT a_id, b_id FROM spairs
       |  WHERE CAST(inter AS DOUBLE)/CAST(na+nb-inter AS DOUBLE) >= 0.5)"""
      .stripMargin


  /** q152's maximal-span pipeline as shared DuckDB CTEs (through
    * `spans`), consumed by q152 (report) and q153 (cut). (A `def`:
    * `specs` initializes first and interpolates the oracle eagerly — a
    * trailing val would still be null then, the BpeRounds lesson.) */
  private def exactSpanCtes: String =
    """g AS (
  SELECT doc_id, i - 1 AS pos,
    ss[i] || ' ' || ss[i+1] || ' ' || ss[i+2] || ' ' || ss[i+3] || ' ' ||
    ss[i+4] || ' ' || ss[i+5] || ' ' || ss[i+6] || ' ' || ss[i+7] AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ss FROM documents),
      |       unnest(range(1, len(ss) - 6)) AS t(i)
      |),
      |ok AS (SELECT gram FROM g GROUP BY gram
      |       HAVING count(*) BETWEEN 2 AND 24),
      |m AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      |  FROM g a JOIN ok USING (gram) JOIN g b USING (gram)
      |  WHERE a.doc_id < b.doc_id
      |),
      |runs AS (
      |  SELECT doc_a, doc_b, pa - pb AS diag, pa,
      |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
      |                            ORDER BY pa) AS isl
      |  FROM m
      |),
      |spans AS (
      |  SELECT doc_a, doc_b, CAST(min(pa) AS BIGINT) AS a_pos,
      |    CAST(min(pa) - diag AS BIGINT) AS b_pos,
      |    CAST(count(*) + 7 AS BIGINT) AS span_words
      |  FROM runs GROUP BY doc_a, doc_b, diag, isl
      |)""".stripMargin

  /** q152's maximal-span pipeline (Spark side), unordered: every
    * maximal cross-doc repeated word span detectable through non-hot
    * 8-gram anchors, as (doc_a, doc_b, a_pos, b_pos, span_words). */
  private def exactSpans(s: SparkSession, dir: String): DataFrame = {
    val OccCap = 24
    // pack (doc_id, pos) into one long so the posting lists ride the
    // q36 PostingPairs path: doc-major order makes same-doc pairs a
    // contiguous (dropped) prefix class, and unpacking is two shifts
    val pid = when(col("doc_id") >= lit(1L << 42) ||
        col("pos") >= lit(1 << 21),
        expr("raise_error('graft q152: doc_id/pos exceed the " +
          "(42,21)-bit packing headroom - widen the pack')")
          .cast("long"))
      .otherwise(shiftleft(col("doc_id"), 21) + col("pos"))
    val g = Tables.spread(s, dir, "documents")
      .select(col("doc_id"), posexplode(
        graft.plans.WordShingles(col("text"), 8, distinct = false))
        .as(Seq("pos", "gram")))
      .select(col("gram"), pid.as("pid"))
    val matches = g.groupBy(col("gram"))
      .agg(sort_array(collect_list(col("pid"))).as("ps"))
      .filter(size(col("ps")).between(2, OccCap))
      .select(graft.plans.PostingPairs(col("ps")).as(Seq("a", "b")))
      .select(shiftright(col("a"), 21).as("doc_a"),
        shiftright(col("b"), 21).as("doc_b"),
        (col("a").bitwiseAND(lit((1L << 21) - 1))).as("pa"),
        (col("b").bitwiseAND(lit((1L << 21) - 1))).as("pb"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"),
        (col("pa") - col("pb")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    matches
      .select(col("doc_a"), col("doc_b"), col("diag"), col("pa"),
        (col("pa") - row_number().over(w)).as("isl"))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(min(col("pa")).as("a_pos"),
        (min(col("pa")) - col("diag")).as("b_pos"),
        (count(lit(1)) + 7).as("span_words"))
      .select(col("doc_a"), col("doc_b"), col("a_pos"), col("b_pos"),
        col("span_words"))
  }
}
