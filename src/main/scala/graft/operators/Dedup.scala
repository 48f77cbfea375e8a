package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{AppendCommit, Maintain, PersistedStore}

/** [EXT] Deduplication operators over `documents`: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. The reference's own dedup is file-level
  * ("key already in S3 → skip", `sync-canvas-data-files.py:62-67`); these
  * extend the idea to content-level dedup for LLM-corpus curation.
  *
  * Scale design (the part that matters at 100 TB):
  *  - nothing ever compares all pairs: candidate generation is always a
  *    shuffle-on-key (shared shingle / LSH band bucket / SimHash band),
  *    so cost tracks the number of *colliding* pairs, not n²;
  *  - signatures are fixed-width (64 longs / 1 long), so the shuffled
  *    payload per doc is O(1) regardless of document length;
  *  - per-bucket pair expansion is bounded by bucket size — skewed buckets
  *    (boilerplate shingles) should be capped/salted in production, noted
  *    per operator.
  */
object Dedup {

  /** Distinct word-3-shingles as 64-bit hashes, one row per (doc, shingle)
    * — [[NGrams.nGramRows]] with per-word hashing (each word hashed once,
    * not once per gram; see NGrams' doc for why this relational shape
    * beats array lambdas). Numeric shingles: no per-shingle string
    * building; collision odds across ~10^5 distinct shingles are ~10^-10,
    * and the string-based oracle would expose one as a gate mismatch (it
    * hasn't). */
  def shingleRows(docs: DataFrame): DataFrame =
    NGrams.nGramRows(docs, 3, w => xxhash64(w))(hs => xxhash64(hs: _*))
      .distinct()

  // ---------------------------------------------------------------------
  // q31_dedup_exact — exact dedup via full-row DISTINCT (deterministic,
  // unlike dropDuplicates' arbitrary row pick) over a corpus with planted
  // duplicates (every 10th doc unioned twice).
  // ---------------------------------------------------------------------
  def q31DedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val base = d.unionAll(d.filter(col("doc_id") % 10 === 0))
    val raw = base.groupBy(col("source")).agg(count(lit(1)).as("n_raw"))
    val ded = base.distinct().groupBy(col("source"))
      .agg(count(lit(1)).as("n_dedup"))
    raw.join(ded, "source")
  }

  val q31DedupExactSql: String =
    """WITH base AS (
      |  SELECT * FROM documents
      |  UNION ALL
      |  SELECT * FROM documents WHERE doc_id % 10 = 0),
      |raw AS (SELECT source, COUNT(*) AS n_raw FROM base GROUP BY source),
      |ded AS (SELECT source, COUNT(*) AS n_dedup
      |        FROM (SELECT DISTINCT * FROM base) GROUP BY source)
      |SELECT raw.source AS source, n_raw, n_dedup
      |FROM raw JOIN ded ON raw.source = ded.source""".stripMargin

  // ---------------------------------------------------------------------
  // q33_ngram_jaccard — exact near-dup pairs by word-trigram Jaccard ≥ 0.6
  // via the shared-shingle inverted-index join: explode distinct shingles,
  // self-join on shingle (not on doc!), count intersections, compute
  // Jaccard from set sizes. Only docs sharing ≥1 shingle ever meet — the
  // candidate set is the inverted index's collision list, never n².
  // ---------------------------------------------------------------------
  /** Shared-shingle intersection counts per candidate pair — the
    * inverted-index core both q33 (Jaccard) and q112 (containment)
    * score from: (a, b, na, nb, inter) for every pair sharing ≥1
    * shingle. */
  private def sharedShingleCounts(sh: DataFrame): DataFrame = {
    val a = sh.select(col("doc_id").as("a"), col("s"))
    val b = sh.select(col("doc_id").as("b"), col("s"))
    pairCounts(sh, a.join(b, Seq("s")).filter(col("a") < col("b")))
  }

  /** (a, b, na, nb, inter) from the shingle collisions of a pair join.
    * Sizes attach at PAIR level, not posting level (guide §2.3: shuffle
    * keys, not payloads): joining sizes onto every posting row BEFORE
    * the shingle self-join would widen each collision row by two longs
    * through the hottest exchange, and at cluster scale (a sizes table
    * too big to broadcast) pay a full extra shuffle of the posting
    * stream by doc_id. The pair table after the partial-aggregated
    * intersection count is the small side to decorate. Sizes come from
    * the full stream `sh`. */
  private def pairCounts(sh: DataFrame, collisions: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    collisions.groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")),
        Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")),
        Seq("b"))
      .select(col("a"), col("b"), col("na"), col("nb"), col("inter"))
  }

  /** The Jaccard tail every exact pair generator shares: J = inter /
    * (na + nb − inter) on doubles, kept at J ≥ num/den. */
  private def jaccardTail(pairs: DataFrame, num: Int, den: Int): DataFrame =
    pairs
      .withColumn("jac", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= lit(num.toDouble / den.toDouble))
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"),
        col("jac"))

  /** CROSS-SIDE exact Jaccard pairs: only pairs whose a-side row fails
    * `rightSide` and whose b-side row satisfies it ever meet — the
    * incremental-dedup shape (known corpus × incoming batch), mirroring
    * the oracle's own `x.side = 0 AND y.side = 1` restriction. Pushing
    * the side split BELOW the shingle self-join keeps the collision
    * stream to cross collisions only, instead of expanding every
    * within-corpus pair and discarding it afterwards (guide §1.2: don't
    * compute what you throw away). Sizes still come from the full
    * stream, so scores are identical to post-filtering [[jaccardPairs]].
    * Requires the two sides to be DISJOINT id ranges with every right id
    * above every left id (the planted-batch convention) so the a < b
    * canonical order is the cross order; a pair that breaks it fails the
    * query (checked in the tail projection — no extra job). */
  def crossJaccardPairs(sh: DataFrame, rightSide: Column): DataFrame = {
    val a = sh.filter(!rightSide).select(col("doc_id").as("a"), col("s"))
    val b = sh.filter(rightSide).select(col("doc_id").as("b"), col("s"))
    jaccardTail(pairCounts(sh, a.join(b, Seq("s"))), 3, 5)
      .withColumn("a", when(col("a") < col("b"), col("a")).otherwise(
        raise_error(lit("crossJaccardPairs: a right-side id is not above " +
          "every left-side id"))))
  }

  /** Exact Jaccard pairs (J ≥ 0.6) from a precomputed shingle stream
    * (shared with q34b so the shingle pass runs once). */
  def jaccardPairs(sh: DataFrame): DataFrame = jaccardPairsAt(sh, 3, 5)

  def q33NgramJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(shingleRows(t(s, dir, "documents")))

  /** Prefix-filtered exact Jaccard join (the PPJoin candidate-pruning
    * idea — Xiao et al., WWW '08): identical OUTPUT to [[jaccardPairs]]
    * (same columns, same τ-on-double semantics), but candidate
    * generation joins only each set's PREFIX — its n − ⌈τn⌉ + 1
    * rarest shingles under a global (frequency, shingle) order —
    * instead of the full inverted index. Any pair with J ≥ τ must
    * share a prefix shingle on BOTH sides (the prefix-filter theorem),
    * so nothing is lost; what is saved is the collision list of the
    * commonest shingles — exactly the inverted index's hot buckets,
    * which at corpus scale dominate candidate volume the way stopwords
    * dominate postings. A length filter (den·min ≥ num·max) drops
    * size-incompatible survivors before verification.
    *
    * τ is taken as the rational num/den (0 < num ≤ den) so the prefix
    * length and the length filter run in INTEGER arithmetic
    * (⌈τn⌉ = (num·n+den−1) div den) — no float boundary can mis-size a
    * prefix. Verification
    * recomputes exact intersections ONLY for candidate pairs (a
    * candidate-driven join keyed (doc, shingle)), then applies the same
    * double-compare threshold as q33 so the two operators are
    * output-identical by construction.
    *
    * Scale: one shuffle on shingle for frequencies, one doc_id window
    * for ranks (per-doc state = one set's shingles), the prefix-prefix
    * self-join (the pruned inverted index), and a verification join
    * bounded by the candidate list. Never n².
    */
  /** The prefix rows (doc_id, n, s) of [[prefixFilterJaccardPairs]] —
    * each set's n − ⌈τn⌉ + 1 rarest shingles under the global
    * (frequency, shingle) order. Exposed so specs can quantify the
    * candidate pruning. */
  private[operators] def jaccardPrefixRows(sh: DataFrame, num: Int,
      den: Int): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val freq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("s").asc)
    // ⌈τ·n⌉ in exact integer arithmetic: (num·n + den − 1) div den (the
    // double intermediate is exact well past any real set size)
    val ceilTauN =
      floor((col("n") * num + lit(den - 1)) / lit(den)).cast("long")
    sh.join(freq, Seq("s")).join(sizes, Seq("doc_id"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= col("n") - ceilTauN + lit(1L))
      .select(col("doc_id"), col("n"), col("s"))
  }

  def prefixFilterJaccardPairs(sh: DataFrame, num: Int, den: Int)
      : DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val prefix = jaccardPrefixRows(sh, num, den)
    val pa = prefix.select(col("doc_id").as("a"), col("n").as("na"),
      col("s"))
    val pb = prefix.select(col("doc_id").as("b"), col("n").as("nb"),
      col("s"))
    val cand = pa.join(pb, Seq("s")).filter(col("a") < col("b"))
      .filter(least(col("na"), col("nb")) * den >=
        greatest(col("na"), col("nb")) * num)
      .select(col("a"), col("b")).distinct()
    val shA = sh.select(col("doc_id").as("a"), col("s"))
    val shB = sh.select(col("doc_id").as("b"), col("s"))
    val inter = cand.join(shA, Seq("a")).join(shB, Seq("b", "s"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")),
        Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")),
        Seq("b"))
      .withColumn("jac", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= lit(num.toDouble / den.toDouble))
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"),
        col("jac"))
  }

  // ---------------------------------------------------------------------
  // q237_ppjoin — the prefix-filtered join gated against q33's ORACLE:
  // the oracle SQL is the full inverted-index formulation, so a hash
  // match proves the prefix filter drops no qualifying pair (and the
  // size filter no near-boundary one) — the lossless-pruning claim
  // checked end-to-end, not just spec'd.
  // ---------------------------------------------------------------------
  def q237Ppjoin(s: SparkSession, dir: String): DataFrame =
    prefixFilterJaccardPairs(shingleRows(t(s, dir, "documents")), 3, 5)

  /** Threshold-calibration sweep over the SAME candidate pairs q33
    * scores: pair counts per 0.1-wide Jaccard bucket plus the
    * cumulative count at-or-above each bucket — the "how much does the
    * corpus shrink at τ" report a dedup rollout reads before committing
    * to a threshold. Buckets come from one floor(jac·10) on the shared
    * IEEE double, so both engines bin identically; output is
    * integer-only. The cumulative runs as a self-join on the ≤11-row
    * bucket table (not a no-partition window — keeps plans warning-free
    * per the r5 note). */
  def jaccardThresholdSweep(sh: DataFrame): DataFrame = {
    val buckets = sharedShingleCounts(sh)
      .withColumn("jac", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .select(floor(col("jac") * 10).cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
    val ge = buckets.select(col("bucket").as("b2"),
      col("n_pairs").as("np2"))
    buckets.join(ge, col("b2") >= col("bucket"))
      .groupBy(col("bucket"), col("n_pairs"))
      .agg(sum(col("np2")).as("n_pairs_ge"))
  }

  def q169JaccardSweep(s: SparkSession, dir: String): DataFrame =
    jaccardThresholdSweep(shingleRows(t(s, dir, "documents")))

  val q169JaccardSweepSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
      |           FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         list_aggregate(w[i:i+2], 'string_agg', '_') AS s
      |       FROM t, UNNEST(range(1, len(w) - 1)) AS g(i)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |c AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
      |      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      |      GROUP BY x.doc_id, y.doc_id),
      |buckets AS (
      |  SELECT CAST(FLOOR((CAST(inter AS DOUBLE)
      |      / (sa.n + sb.n - inter)) * 10) AS INT) AS bucket,
      |    COUNT(*) AS n_pairs
      |  FROM c JOIN sz sa ON c.a = sa.doc_id
      |  JOIN sz sb ON c.b = sb.doc_id
      |  GROUP BY 1)
      |SELECT x.bucket, x.n_pairs,
      |  CAST(SUM(y.n_pairs) AS BIGINT) AS n_pairs_ge
      |FROM buckets x JOIN buckets y ON y.bucket >= x.bucket
      |GROUP BY x.bucket, x.n_pairs""".stripMargin

  // ---------------------------------------------------------------------
  // Evidence-based near-dup strategy selection. [[jaccardPairs]] (plain
  // inverted index) and [[prefixFilterJaccardPairs]] are output-identical
  // (q237's oracle IS q33's), but their costs cross over on POSTING-LIST
  // SKEW: the plain join's candidate volume is Σ df·(df−1)/2 over
  // shingle frequencies, so a few stopword-hot lists dominate it
  // quadratically — exactly what the prefix filter prunes. On a FLAT
  // frequency profile (the TPC-H trigram corpus: sparse lists, no hot
  // buckets) the prefix filter's freq+rank plumbing costs more than the
  // pruning saves (measured r7: 4.2 s vs 1.8 s at sf0.1). So: decide
  // from evidence, not taste — one cheap aggregate over the posting-list
  // frequency table (the q224 bucketSkew statistic applied to shingle
  // df), then run the winner. The threshold compares max_df against the
  // mean df: a corpus whose hottest list is ≥ `skewThreshold`× the mean
  // is stopword-skewed (a true stopword appears in EVERY doc, so its df
  // is corpus-sized while the mean stays near 1–2).
  // ---------------------------------------------------------------------

  /** One-aggregate posting-list skew evidence + the verdict. */
  final case class JaccardStrategy(nLists: Long, nRows: Long,
      maxDf: Long, skewRatio: Double, usePrefixFilter: Boolean)

  /** Read the evidence: distinct posting lists, total postings, hottest
    * list, and skew = max_df / mean_df — one shuffle on shingle, the
    * df table the prefix filter would build anyway. */
  def chooseJaccardStrategy(sh: DataFrame,
      skewThreshold: Double = 16.0): JaccardStrategy = {
    val r = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_lists"), sum(col("df")).as("n_rows"),
        max(col("df")).as("max_df")).head()
    val (nLists, nRows, maxDf) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val skew = maxDf.toDouble / (nRows.toDouble / nLists.toDouble)
    JaccardStrategy(nLists, nRows, maxDf, skew,
      usePrefixFilter = skew >= skewThreshold)
  }

  /** [[jaccardPairs]] at an arbitrary rational threshold num/den —
    * the plain-inverted-index half of the auto path (τ = 3/5 gives
    * exactly q33's 0.6 double). */
  def jaccardPairsAt(sh: DataFrame, num: Int, den: Int): DataFrame =
    jaccardTail(sharedShingleCounts(sh), num, den)

  /** Auto near-dup join: read the skew evidence, run the winning plan.
    * Output is identical either way (the q237 gate proves the prefix
    * path lossless); only the cost differs. */
  def jaccardPairsAuto(sh: DataFrame, num: Int, den: Int,
      skewThreshold: Double = 16.0): DataFrame =
    if (chooseJaccardStrategy(sh, skewThreshold).usePrefixFilter)
      prefixFilterJaccardPairs(sh, num, den)
    else jaccardPairsAt(sh, num, den)

  // ---------------------------------------------------------------------
  // q250_jaccard_strategy — the selector's evidence and verdict on the
  // gate corpus, oracle-replayed: posting-list stats over the same
  // distinct trigram stream, the same max/mean skew tree, the same
  // threshold compare. Pins that the auto path picks the PLAIN join on
  // this corpus (flat lists — the measured-cheaper plan).
  // ---------------------------------------------------------------------
  def q250JaccardStrategy(s: SparkSession, dir: String): DataFrame = {
    val st = chooseJaccardStrategy(shingleRows(t(s, dir, "documents")))
    import s.implicits._
    Seq((st.nLists, st.nRows, st.maxDf,
        BigDecimal(st.skewRatio).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble,
        st.usePrefixFilter))
      .toDF("n_lists", "n_rows", "max_df", "skew_ratio",
        "use_prefix_filter")
  }

  val q250JaccardStrategySql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
      |           FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         list_aggregate(w[i:i+2], 'string_agg', '_') AS s
      |       FROM t, UNNEST(range(1, len(w) - 1)) AS g(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
      |SELECT COUNT(*) AS n_lists, CAST(SUM(df) AS BIGINT) AS n_rows,
      |  CAST(MAX(df) AS BIGINT) AS max_df,
      |  ROUND(CAST(MAX(df) AS DOUBLE)
      |    / (CAST(SUM(df) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 6)
      |    AS skew_ratio,
      |  CAST(MAX(df) AS DOUBLE)
      |    / (CAST(SUM(df) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) >= 16.0
      |    AS use_prefix_filter
      |FROM df""".stripMargin

  // ---------------------------------------------------------------------
  // q112_containment — asymmetric near-dup detection by shingle-set
  // CONTAINMENT: inter / min(|A|, |B|) ≥ 0.9. Catches what Jaccard
  // structurally cannot: a short doc quoted whole inside a long one has
  // containment 1.0 but Jaccard ≈ |A|/|B| → 0 as the host grows — the
  // excerpt/quotation/boilerplate-inclusion case (the containment variant
  // of Broder's resemblance, STOC '97). Same inverted-index join as q33
  // (candidates = docs sharing ≥1 shingle, never n²); only the scoring
  // differs, so both operators share [[sharedShingleCounts]].
  // ---------------------------------------------------------------------
  def containmentPairs(sh: DataFrame, tau: Double): DataFrame =
    sharedShingleCounts(sh)
      .withColumn("cont", col("inter").cast("double") /
        least(col("na"), col("nb")))
      .filter(col("cont") >= tau)
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"),
        col("cont"))

  /** Gate corpus: `documents` plus planted EXCERPTS — the leading 60% of
    * every 89th doc's words under a shifted id. Each excerpt's trigram
    * set is a strict subset of its parent's (containment 1.0) while its
    * Jaccard vs the parent is ≈0.6 — rows q33's threshold can miss but
    * the containment rule must catch. */
  def q112Containment(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val w = split(col("text"), " ")
    val excerpts = d.filter(col("doc_id") % 89 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(w, lit(1),
            greatest(lit(3), expr("(size(split(text, ' ')) * 3) div 5"))),
          " ").as("text"))
    containmentPairs(shingleRows(d.unionByName(excerpts)), 0.9)
  }

  val q112ContainmentSql: String =
    """WITH exc AS (
      |  SELECT doc_id + 1000000 AS doc_id,
      |    list_aggregate(w[1:greatest(3, (len(w)*3)//5)],
      |      'string_agg', ' ') AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w
      |        FROM documents WHERE doc_id % 89 = 0)),
      |ad AS (SELECT doc_id, text FROM documents UNION ALL
      |       SELECT doc_id, text FROM exc),
      |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM ad),
      |sh AS (SELECT DISTINCT doc_id,
      |         list_aggregate(w[i:i+2], 'string_agg', '_') AS s
      |       FROM t, UNNEST(range(1, len(w) - 1)) AS g(i)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |c AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
      |      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      |      GROUP BY x.doc_id, y.doc_id)
      |SELECT a, b, inter, sa.n AS na, sb.n AS nb,
      |  CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS cont
      |FROM c JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= 0.9""".stripMargin

  val q33NgramJaccardSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         list_aggregate(w[i:i+2], 'string_agg', '_') AS s
      |       FROM t, UNNEST(range(1, len(w) - 1)) AS g(i)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |c AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
      |      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      |      GROUP BY x.doc_id, y.doc_id)
      |SELECT a, b, inter, sa.n AS na, sb.n AS nb,
      |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jac
      |FROM c JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6""".stripMargin

  // ---------------------------------------------------------------------
  // q32_minhash_lsh — MinHash(64) + LSH banding (16 bands × 4 rows).
  // Signature: sig[j] = min over shingles of xxhash64(shingle, j).
  // Candidates: docs sharing any band hash. Estimate: fraction of equal
  // signature components ≥ 0.5. No SQL oracle (xxhash64 is Spark-specific)
  // → driver records rows-only; exactness is spec-tested against
  // q33's exact Jaccard (planted pairs must all surface).
  // ---------------------------------------------------------------------
  private val MinhashPerms = 64
  private val Bands = 16
  private val RowsPerBand = MinhashPerms / Bands

  /** MinHash signatures from a precomputed shingle stream (shared with
    * q32b so the shingle pass runs once). */
  def minhashSignaturesFromShingles(ex: DataFrame): DataFrame = {
    val aggs = (0 until MinhashPerms).map(j =>
      min(xxhash64(col("s"), lit(j))).as(s"sig_$j"))
    ex.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until MinhashPerms).map(j => col(s"sig_$j")): _*).as("sig"))
  }

  def minhashSignatures(d: DataFrame): DataFrame =
    minhashSignaturesFromShingles(shingleRows(d))

  /** LSH-band candidate pairs from MinHash signatures — the banding half
    * of q32, factored out so the recall gate (q32b) can run it standalone.
    * `restrictTo` bounds the output to a known pair set with a broadcast
    * semi-join BEFORE the candidate-dedup shuffle (same contract as
    * [[simhashPairs]]). */
  def minhashCandidates(sig: DataFrame,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    // band hash = xxhash64 over the band's slice + band id
    val banded = sig.select(col("doc_id"), posexplode(
      transform(sequence(lit(0), lit(Bands - 1)), bnd =>
        xxhash64(bnd, concat_ws(",",
          slice(col("sig"), bnd * RowsPerBand + 1, lit(RowsPerBand)))))))
      .toDF("doc_id", "band", "bh")
    // skew guard: drop pathologically hot buckets before pair expansion.
    // The bucket size rides a count window over the SAME (band, bh) key
    // the pair self-join shuffles on — one exchange serves the cap filter
    // AND both join sides (guide §2.4), where the previous
    // groupBy + left_semi shape shuffled the banded stream twice more.
    val bucketW = Window.partitionBy(col("band"), col("bh"))
    val bounded = banded
      .withColumn("__sz", count(lit(1)).over(bucketW))
      .filter(col("__sz").between(2, MaxBucketSize))
      .drop("__sz")
    // the doc-level restriction applies BEFORE the bucket self-join: a
    // restricted pair (a,b) survives iff both endpoints share a bucket,
    // and dropping non-endpoint docs removes only pairs the final (a,b)
    // semi-join would discard anyway — while the bucket-size cap above is
    // still computed over the FULL corpus, so cap semantics are untouched.
    // Without this, the gate pays the full O(bucket²) candidate expansion
    // just to throw it away (measured 2-3× on q32b/q34b at sf0.1).
    val (lsrc, rsrc) = restrictTo match {
      case Some(p) =>
        (bounded.join(broadcast(p.select(col("a").as("doc_id")).distinct()),
           Seq("doc_id"), "left_semi"),
         bounded.join(broadcast(p.select(col("b").as("doc_id")).distinct()),
           Seq("doc_id"), "left_semi"))
      case None => (bounded, bounded)
    }
    val l = lsrc.select(col("band"), col("bh"), col("doc_id").as("a"))
    val r = rsrc.select(col("band"), col("bh"), col("doc_id").as("b"))
    val joined = l.join(r, Seq("band", "bh")).filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    restrictTo.fold(joined)(p =>
        joined.join(broadcast(p.select(col("a"), col("b"))),
          Seq("a", "b"), "left_semi"))
      .distinct()
  }

  /** Pair expansion per bucket is O(size²) — a boilerplate-heavy corpus can
    * produce one enormous bucket that dominates the whole job. Buckets
    * above this cap are excluded from candidate generation (their docs
    * still meet through their other B−1 bands, which is the standard
    * mitigation; a capped bucket is near-useless for precision anyway). */
  val MaxBucketSize = 1000

  def q32MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val sig = minhashSignatures(t(s, dir, "documents")).cache()
    // materialize before fan-out: the banding branch and both rerank join
    // sides consume this cache inside one job, and two simultaneous cold
    // misses compute the signature pass twice (NOTES gotcha; q34b measured
    // up to 2× on the same shape)
    sig.count()
    val cand = minhashCandidates(sig)
    val sa = sig.select(col("doc_id").as("a"), col("sig").as("sig_a"))
    val sb = sig.select(col("doc_id").as("b"), col("sig").as("sig_b"))
    cand.join(sa, "a").join(sb, "b")
      .withColumn("est",
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))
          .cast("double") / MinhashPerms)
      .filter(col("est") >= 0.5)
      .select(col("a"), col("b"), col("est"))
  }

  // ---------------------------------------------------------------------
  // q32b_minhash_recall — DERIVED ORACLE for MinHash-LSH (the q34b
  // pattern): the exact trigram-Jaccard pairs (q33, SQL-expressible) that
  // the banding also surfaces as candidates. Equal to q33's pair list iff
  // banding recall over the corpus's true near-dup pairs is 1.0 — any
  // signature/banding regression shrinks the intersection and
  // hash-mismatches against DuckDB. Unlike SimHash's pigeonhole, MinHash
  // recall is probabilistic in general (16 bands × 4 rows: a jaccard-0.6
  // pair misses every band with p ≈ 0.11) — but it is DETERMINISTIC for a
  // fixed corpus and hash family (xxhash64, fixed seeds), and on this
  // corpus the true pairs sit far above the threshold, where the miss
  // probability is ~1e-7 per pair; verified green at sf0.01 and sf0.1.
  // ---------------------------------------------------------------------
  def q32bMinhashRecall(s: SparkSession, dir: String): DataFrame = {
    val shingles = shingleRows(t(s, dir, "documents")).cache()
    // materialize before fan-out (same race as q34b)
    shingles.count()
    val exact = jaccardPairs(shingles).select(col("a"), col("b")).cache()
    // materialize: the pair set feeds both endpoint-restriction broadcasts,
    // the pair-level semi-join, and the final join — concurrent cold
    // misses would run the exact-Jaccard pipeline more than once
    exact.count()
    val cand = minhashCandidates(minhashSignaturesFromShingles(shingles),
      restrictTo = Some(exact))
    exact.join(cand, Seq("a", "b"), "left_semi")
  }

  // ---------------------------------------------------------------------
  // q34_simhash — 64-bit SimHash over word-trigram shingles: bit i of the
  // signature is the sign of the sum of (2*bit_i(xxhash64(shingle)) - 1)
  // over the doc's shingles. (Features are shingles, not words: with a
  // small vocabulary the distinct-word *set* is near-identical across all
  // docs, which would collapse every SimHash.)
  //
  // Candidate generation is the block-combination scheme from Manku et
  // al., "Detecting Near-Duplicates for Web Crawling" (WWW '07): split
  // the 64-bit signature into (H+2) blocks for verification threshold H
  // and key candidates on every PAIR of blocks. Pigeonhole: a pair
  // within Hamming ≤ H dirties at most H blocks, leaving ≥ 2 of H+2
  // clean, so some pair-table matches — candidate recall is structurally
  // guaranteed for every pair the verifier would accept, making the
  // operator deterministically "all pairs with Hamming ≤ H". q34 runs
  // the high-precision contract H=10 (12 blocks, C(12,2)=66 tables,
  // 10–12-bit keys; at sf0.1 zero non-exact pairs fall below Hamming
  // 11). Versus naive single-block bands (256 buckets/band → n/256 docs
  // per bucket → ~n²/32 candidate pairs), the wide pair keys shrink
  // buckets so pair expansion tracks true collisions. CAVEAT on the
  // MaxBucketSize skew guard (shared with MinHash-LSH): a capped bucket
  // trades the pigeonhole guarantee away for the pairs whose ONLY clean
  // block-pair lands in it — deliberate under boilerplate collapse
  // (>1000 near-identical docs in one bucket means precision is already
  // gone) but it means "guaranteed" holds exactly on corpora where no
  // relevant bucket exceeds the cap. Where ordinary buckets outgrow the
  // cap (n ≫ cap × 2^keybits), raise the cap or the combination order
  // (block triples with guarantee H = nb-3) — same code shape.
  // Verified by bit_count(xor) ≤ H.
  // Rows-only oracle for q34 itself (hash-specific); recall is
  // oracle-gated through q34b and spec-tested against planted pairs.
  // ---------------------------------------------------------------------
  /** SimHash signatures from a precomputed shingle stream. */
  def simhashFromShingles(sh: DataFrame): DataFrame = {
    val ex = sh.withColumn("h", xxhash64(col("s")))
    val bitSums = (0 until 64).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1) * 2 - 1).as(s"b_$i"))
    ex.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i =>
          when(col(s"b_$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  def simhash64(d: DataFrame): DataFrame =
    simhashFromShingles(shingleRows(d))

  /** Even-ish split of the 64 signature bits into `nb` blocks. */
  private def blockWidths(nb: Int): Array[Int] = {
    val base = 64 / nb
    val extra = 64 % nb
    Array.tabulate(nb)(i => if (i < extra) base + 1 else base)
  }

  /** Verified near-dup pairs (Hamming ≤ `maxHamming`) from precomputed
    * signatures. Block count is DERIVED from the threshold (nb = H + 2)
    * so the pair-match pigeonhole guarantee always covers exactly the
    * pairs the verifier accepts. */
  /** `restrictTo`: optional (a, b) pair set that bounds the output — the
    * broadcast semi-join is applied BEFORE the candidate-dedup shuffle,
    * so gates that only ask "are these known pairs surfaced?" (q34b)
    * never shuffle the full candidate expansion. Semantically identical
    * to intersecting afterwards (semi-join commutes with distinct and the
    * Hamming filter). */
  def simhashPairs(simhashes: DataFrame, maxHamming: Int = 10,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    val sh = simhashes
    val widths = blockWidths(maxHamming + 2)
    val offsets = widths.scanLeft(0)(_ + _)
    def block(i: Int): Column =
      shiftright(col("simhash"), offsets(i))
        .bitwiseAND((1L << widths(i)) - 1)
    // C(nb,2) block-pair tables: key = both blocks' signature content
    val nb = widths.length
    val pairKeys = for { i <- 0 until nb; j <- (i + 1) until nb } yield
      shiftleft(block(i), widths(j)).bitwiseOR(block(j))
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array(pairKeys: _*)))
      .toDF("doc_id", "simhash", "band", "bh")
    // skew guard: identical to MinHash-LSH — a bucket larger than
    // MaxBucketSize is boilerplate collapse; its docs still meet through
    // their other C(nb,2)-1 tables. Count window on the join key instead
    // of groupBy + left_semi — see minhashCandidates.
    val bucketW = Window.partitionBy(col("band"), col("bh"))
    val bounded = banded
      .withColumn("__sz", count(lit(1)).over(bucketW))
      .filter(col("__sz").between(2, MaxBucketSize))
      .drop("__sz")
    // same pre-join doc restriction as [[minhashCandidates]]: cap counts
    // stay corpus-wide, but the O(bucket²) pair expansion only runs over
    // the gated endpoints (H=14 means 120 8-bit pair-key tables — the
    // full expansion is millions of rows at sf0.1, all but ~25 discarded)
    val (lsrc, rsrc) = restrictTo match {
      case Some(p) =>
        (bounded.join(broadcast(p.select(col("a").as("doc_id")).distinct()),
           Seq("doc_id"), "left_semi"),
         bounded.join(broadcast(p.select(col("b").as("doc_id")).distinct()),
           Seq("doc_id"), "left_semi"))
      case None => (bounded, bounded)
    }
    val l = lsrc.select(col("band"), col("bh"), col("doc_id").as("a"),
      col("simhash").as("ha"))
    val r = rsrc.select(col("band"), col("bh"), col("doc_id").as("b"),
      col("simhash").as("hb"))
    val joined = l.join(r, Seq("band", "bh")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
    restrictTo.fold(joined)(p =>
        joined.join(broadcast(p.select(col("a"), col("b"))),
          Seq("a", "b"), "left_semi"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  def q34Simhash(s: SparkSession, dir: String): DataFrame = {
    val sig = simhash64(t(s, dir, "documents")).cache()
    // same cold-cache race as q32: the pair-key expansion feeds the bucket
    // filter and both join sides — materialize once before the fan-out
    sig.count()
    simhashPairs(sig)
  }

  // ---------------------------------------------------------------------
  // q34b_simhash_recall — DERIVED ORACLE for SimHash: the exact
  // trigram-Jaccard pairs (q33, SQL-expressible) that SimHash banding
  // also surfaces. Equal to q33's pair list iff SimHash recall over the
  // planted corpus is 1.0 — so the engine-specific operator gets a real
  // DuckDB-checked gate: any banding/signature regression shrinks the
  // intersection and hash-mismatches. (False-positive absence is
  // spec-tested in DedupSpec; it isn't SQL-expressible.) The cached
  // shingle stream feeds BOTH pipelines — one shingle pass, not two.
  //
  // The gate runs the RECALL dial: Hamming ≤ 14 (16 blocks). Measured at
  // sf0.1, exact-Jaccard pairs reach Hamming 13 while q34's precision
  // contract stops at 10 — the gate must cover the approximation
  // boundary, and its semi-join against the exact pairs discards the
  // lower-precision extras, so widening the dial costs recall nothing.
  // A jaccard-0.6 pair beyond Hamming 14 is possible in principle at
  // much larger corpora; the dial (and with it the banding order) is the
  // knob to raise.
  // ---------------------------------------------------------------------
  def q34bSimhashRecall(s: SparkSession, dir: String): DataFrame = {
    val shingles = shingleRows(t(s, dir, "documents")).cache()
    // materialize before fan-out: the SimHash and Jaccard branches run
    // concurrently inside one job, and two simultaneous cache misses
    // compute the shingle pass twice (measured: up to 2× on q34b)
    shingles.count()
    val exact = jaccardPairs(shingles).select(col("a"), col("b")).cache()
    // materialize: four consumers (endpoint broadcasts, pair semi-join,
    // final join) — see q32b
    exact.count()
    val cand = simhashPairs(simhashFromShingles(shingles), maxHamming = 14,
      restrictTo = Some(exact)).select(col("a"), col("b"))
    exact.join(cand, Seq("a", "b"), "left_semi")
  }

  val q34bSimhashRecallSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         list_aggregate(w[i:i+2], 'string_agg', '_') AS s
      |       FROM t, UNNEST(range(1, len(w) - 1)) AS g(i)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |c AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
      |      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      |      GROUP BY x.doc_id, y.doc_id)
      |SELECT a, b
      |FROM c JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6""".stripMargin

  // ---------------------------------------------------------------------
  // q35_embed_neardup — embedding-cosine near-dup via random-hyperplane
  // LSH: 16-bit sign signatures over 4 tables, exact cosine rerank of
  // bucket collisions only. Driver-seeded deterministic hyperplanes.
  // Rows-only oracle; recall vs brute force is spec-tested.
  // ---------------------------------------------------------------------
  /** The RH-LSH near-dup pipeline over an arbitrary embeddings frame —
    * factored out so the structural gate (q35b) can run it on an
    * augmented corpus. */
  def embedNearDupPairs(e: DataFrame): DataFrame = {
    val dim = 64
    val tables = 4
    val bitsPerTable = 12
    val rnd = new scala.util.Random(42)
    // deterministic hyperplanes: tables × bits × dim gaussians
    val planes = Array.fill(tables, bitsPerTable, dim)(rnd.nextGaussian())
    val embD = col("embedding").cast("array<double>")
    def dotPlane(tbl: Int, bit: Int): Column =
      aggregate(
        zip_with(embD, typedLit(planes(tbl)(bit).toSeq), (x, p) => x * p),
        lit(0.0d), (acc, v) => acc + v)
    def bucket(tbl: Int): Column =
      (0 until bitsPerTable).map(bit =>
        when(dotPlane(tbl, bit) > 0, lit(1L << bit)).otherwise(lit(0L)))
        .reduce(_ + _)
    val sig = e.select(col("vec_id"), col("embedding"),
      posexplode(array((0 until tables).map(bucket): _*)))
      .toDF("vec_id", "embedding", "tbl", "bucket")
    val l = sig.select(col("tbl"), col("bucket"), col("vec_id").as("a"),
      col("embedding").as("ea"))
    val r = sig.select(col("tbl"), col("bucket"), col("vec_id").as("b"),
      col("embedding").as("eb"))
    l.join(r, Seq("tbl", "bucket")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        expr("cosine_sim(ea, eb)").as("sim"))
      .distinct()
      .filter(col("sim") >= 0.3)
  }

  def q35EmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    embedNearDupPairs(t(s, dir, "embeddings"))
  }

  // ---------------------------------------------------------------------
  // q35b_embed_recall — DERIVED ORACLE for the RH-LSH machinery. The
  // corpus's natural ≥0.3-cosine pairs are NOT a usable truth set: at
  // sim 0.3-0.5 the collision probability of a 12-bit×4-table
  // sign-hash is under 2% BY DESIGN (the operator's contract is "high-sim
  // near-dups", and the synthetic corpus has no pair above 0.6). So the
  // gate plants its own: a ×2-scaled copy of every 20th vector. Scaling
  // by a positive power of two preserves every hyperplane dot's sign
  // EXACTLY (fl(2a+2b) = 2·fl(a+b): ×2 only shifts exponents, so it
  // commutes with every rounding in the dot product) — each planted copy
  // lands in its original's bucket in all 4 tables, collision is
  // structural, and cosine(v, 2v) = 1. DuckDB can therefore predict the
  // surfaced planted pairs exactly: (v, v+10⁷) for every 20th vec_id.
  // Any regression in signature computation, bucket join, cosine rerank,
  // or the threshold filter loses planted pairs and hash-mismatches.
  // ---------------------------------------------------------------------
  val PlantOffset = 10000000L

  def q35bEmbedRecall(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + PlantOffset).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    embedNearDupPairs(e.unionByName(planted))
      .filter(col("b") === col("a") + PlantOffset &&
        col("a") % 20 === 0)
      .select(col("a"), col("b"))
  }

  val q35bEmbedRecallSql: String =
    """SELECT vec_id AS a, vec_id + 10000000 AS b
      |FROM embeddings WHERE vec_id % 20 = 0""".stripMargin

  // ---------------------------------------------------------------------
  // Persisted MinHash index — incremental dedup's build/probe split (the
  // dedup analog of Similarity's IVF index). At 100 TB nobody re-signs
  // the corpus to dedup a daily batch: the corpus's signatures and band
  // buckets are persisted once, and an incoming batch only computes ITS
  // OWN signatures and joins its band keys against the stored bucket
  // table. Cost per batch: O(batch) signature work + a join whose stored
  // side would, in a deployed warehouse, be bucketed by band hash so only
  // the (small) incoming side shuffles — the layout `BucketingSpec`
  // proves zero-exchange for. Layout under `indexDir`:
  //   signatures/   (doc_id, sig: array<long>)   — for estimate rerank
  //   bands/        (band, bh, doc_id)           — collision substrate
  //   bucket_sizes/ (band, bh, sz) DELTA LOG     — uncapped counts; the
  //                 TRUE size of a bucket is sum(sz) over its deltas
  //   _applied/     append ledger (graft.pipeline.AppendCommit)
  // Builds replace the tree behind the crash-safe SafeSwap; APPENDS are
  // file-additive — O(batch) I/O, never a rewrite of the stored tables
  // (see [[appendToMinhashIndex]]). The hot-bucket cap is enforced on
  // the LIVE VIEW ([[readMinhashBands]]): stored rows of a bucket whose
  // cumulative size later crossed the cap stay on disk but are filtered
  // out by every reader; [[compactMinhashIndex]] purges them
  // periodically.
  // ---------------------------------------------------------------------

  /** Band-key rows (band, bh, doc_id) for MinHash signatures — the
    * banding half of [[minhashCandidates]], shared with the index. */
  private def bandRows(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(
      transform(sequence(lit(0), lit(Bands - 1)), bnd =>
        xxhash64(bnd, concat_ws(",",
          slice(col("sig"), bnd * RowsPerBand + 1, lit(RowsPerBand)))))))
      .toDF("doc_id", "band", "bh")

  /** `ledger` entries are written INSIDE the swapped tree, so "built
    * from batch X" and "X is applied" commit atomically — the streaming
    * bootstrap's crash-safety hinge ([[foreachBatchIndexSink]]): there
    * is no window in which the index exists but its founding batch
    * could be re-appended. */
  def buildMinhashIndex(spark: SparkSession, docs: DataFrame,
      indexDir: String, ledger: Seq[(String, String)] = Nil): Unit = {
    val sig = minhashSignatures(docs).cache()
    sig.count() // three writers below — materialize once
    PersistedStore.build(indexDir, ledger) { tmp =>
      sig.write.parquet(s"$tmp/signatures")
      // hot-bucket cap applied at BUILD time (the incremental analog of
      // minhashCandidates' skew guard): a stored bucket over the cap is
      // boilerplate collapse, and excluding it here bounds every future
      // batch's pair expansion instead of re-filtering per probe
      val bands = bandRows(sig)
      val sizes = bands.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("sz")).cache()
      sizes.count() // consumed by the cap filter AND persisted below
      bands.join(sizes.filter(col("sz") <= MaxBucketSize)
          .select(col("band"), col("bh")), Seq("band", "bh"), "left_semi")
        .write.parquet(s"$tmp/bands")
      // UNCAPPED bucket sizes, one row per distinct (band, bh): the state
      // [[appendToMinhashIndex]] needs to re-apply the cap on MERGED
      // sizes. Without it, a bucket the build dropped as over-cap would
      // look empty to an append, and a small batch addition to it would
      // be kept — diverging from build(corpus ∪ batch), which sees the
      // still-larger merged bucket and drops everything.
      sizes.write.parquet(s"$tmp/bucket_sizes")
      sizes.unpersist()
    }
    sig.unpersist()
  }

  /** Content-derived batch fingerprint "n|h" — the append idempotency
    * key, over (doc_id, text). */
  private def docsFingerprint(batch: DataFrame): String =
    PersistedStore.fingerprint(batch, "doc_id", "text")

  /** Raw bucket-size DELTAS (band, bh, sz) — the true size of a bucket
    * is sum(sz) over its delta rows. Consumers restrict to the buckets
    * they care about BEFORE aggregating where possible. Legacy trees
    * (pre-size-table) degrade to deriving sizes from stored signatures —
    * still no shingle pass over the corpus. */
  /** True when the index carries a non-empty size-delta table. A bare
    * directory-existence probe is NOT enough: a crashed append's
    * partially-moved files are tag-deleted on retry, which can leave the
    * directory present but EMPTY — reading it would fail schema
    * inference, and treating it as non-legacy would silently skip the
    * one-time base-size migration on a legacy tree. Only data files
    * count. */
  private def hasSizesTable(spark: SparkSession, indexDir: String): Boolean = {
    // existence goes through the index's OWN filesystem (java.io.File is
    // always false on hdfs:// or s3:// paths)
    val idxFs = graft.pipeline.Fs.of(indexDir, spark)
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/bucket_sizes")
    idxFs.exists(p) && idxFs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith(".") && !n.startsWith("_")
    }
  }

  private def minhashSizeDeltas(spark: SparkSession,
      indexDir: String): DataFrame = {
    if (hasSizesTable(spark, indexDir))
      spark.read.parquet(s"$indexDir/bucket_sizes")
        .select(col("band"), col("bh"), col("sz"))
    else bandRows(spark.read.parquet(s"$indexDir/signatures"))
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("sz"))
  }

  /** Cumulative bucket sizes: sum(sz) per (band, bh) over the whole
    * delta log — for whole-index consumers (live view, compaction). */
  private def minhashBucketSizes(spark: SparkSession,
      indexDir: String): DataFrame =
    minhashSizeDeltas(spark, indexDir)
      .groupBy(col("band"), col("bh")).agg(sum(col("sz")).as("sz"))

  /** The index's LIVE band view: stored rows restricted to buckets whose
    * cumulative size is ≤ cap. Appends never rewrite stored band rows —
    * a bucket that CROSSED the cap in some later batch keeps its old
    * rows on disk, and this filter is what makes them invisible, so the
    * view equals what a fresh build over the accumulated corpus would
    * store. Probes confine the size aggregation to the buckets they
    * actually touch (see [[incrementalNearDups]]); this whole-index view
    * is for equivalence checks and compaction. */
  def readMinhashBands(spark: SparkSession, indexDir: String): DataFrame =
    PersistedStore.open(indexDir) {
      spark.read.parquet(s"$indexDir/bands")
        .join(minhashBucketSizes(spark, indexDir)
            .filter(col("sz") <= MaxBucketSize).select(col("band"), col("bh")),
          Seq("band", "bh"), "left_semi")
    }

  /** Merge a batch's signatures and band rows into a persisted index —
    * the complement of [[incrementalNearDups]]'s read path: after a daily
    * batch is deduped against the corpus, its survivors join the index
    * WITHOUT re-signing the corpus (the record-grained analog of the
    * incremental file sync, ref sync-canvas-data-files.py:62-67). Only
    * the batch is shingled and signed; the corpus contributes its stored
    * size table (read, never rewritten).
    *
    * I/O is O(batch): the batch's signatures, its band rows (pre-capped
    * against cumulative bucket sizes), and its UNCAPPED size deltas land
    * as NEW FILES via [[graft.pipeline.AppendCommit]] — the stored
    * signature/band/size files are never read-modify-written, so at
    * 100 TB a daily batch costs the batch, not the index. (The previous
    * scheme re-wrote the full signatures and bands tables through
    * SafeSwap per append — a multi-TB rewrite per day at scale.)
    *
    * The cap contract is preserved ON THE LIVE VIEW: build(corpus) +
    * append(batch) and build(corpus ∪ batch) agree on
    * [[readMinhashBands]] and on the signature table —
    *  - a bucket ≤ cap before and after: old rows stored by the build,
    *    new rows added by the append, all live;
    *  - a bucket pushed over the cap by the batch: its new rows are not
    *    written, its old rows stay on disk but the size filter hides
    *    them — exactly the empty bucket a fresh union build stores
    *    ([[compactMinhashIndex]] purges the dead rows);
    *  - a bucket already over the cap stays over (sizes only grow).
    *
    * Idempotent under at-least-once delivery and crash-retry: the batch
    * id is content-derived and the placement runs through AppendCommit
    * (replayed batch → no-op; crashed move → tag-scoped re-place).
    * Batch doc_ids are assumed disjoint from the corpus (same
    * immutable-file contract as [[incrementalNearDups]]); single
    * maintenance writer, like every index maintenance op. */
  def appendToMinhashIndex(spark: SparkSession, batch: DataFrame,
      indexDir: String): Unit = {
    val fpBatch = docsFingerprint(batch)
    PersistedStore.append(spark, indexDir, AppendCommit.contentId(fpBatch),
        fpBatch) {
      val sigNew = minhashSignatures(batch).cache()
      sigNew.count() // band derivation + signature writer both consume it
      val bandsNew = bandRows(sigNew)
      val sizesNew = bandsNew.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("sz")).cache()
      sizesNew.count() // cap decision + delta writer both consume it
      // stored sizes confined (pre-aggregation) to buckets the batch
      // touches — the only part of the existing index this append reads
      // beyond the legacy fallback
      val oldTouched = minhashSizeDeltas(spark, indexDir)
        .join(sizesNew.select(col("band"), col("bh")),
          Seq("band", "bh"), "left_semi")
        .groupBy(col("band"), col("bh")).agg(sum(col("sz")).as("old_sz"))
      val keep = sizesNew.join(oldTouched, Seq("band", "bh"), "left")
        .filter(coalesce(col("old_sz"), lit(0L)) + col("sz") <= MaxBucketSize)
        .select(col("band"), col("bh"))
      val legacyNoSizes = !hasSizesTable(spark, indexDir)
      tmp => {
        sigNew.write.parquet(s"$tmp/signatures")
        bandsNew.join(keep, Seq("band", "bh"), "left_semi")
          .select(col("doc_id"), col("band"), col("bh"))
          .write.parquet(s"$tmp/bands")
        // UNCAPPED size deltas — future appends and the live view sum
        // them. A legacy tree gets its derived base sizes folded into this
        // first delta (one-time O(corpus-bands) migration write).
        val delta =
          if (legacyNoSizes)
            minhashBucketSizes(spark, indexDir).unionByName(sizesNew)
              .groupBy(col("band"), col("bh")).agg(sum(col("sz")).as("sz"))
          else sizesNew
        delta.write.parquet(s"$tmp/bucket_sizes")
        sizesNew.unpersist()
        sigNew.unpersist()
      }
    }
    ()
  }

  /** Streaming index maintenance: a `foreachBatch` sink that folds each
    * micro-batch of docs (doc_id, text) into the persisted MinHash
    * index. The FIRST non-empty micro-batch bootstraps the index with
    * its own content-derived batch id committed atomically inside the
    * build swap; later batches go through the O(batch) append, whose
    * content-derived id makes engine redelivery a no-op. Exactly-once
    * index maintenance on top of foreachBatch's at-least-once contract,
    * with no ordering assumptions beyond the id-disjoint batches the
    * batch append already requires. */
  def foreachBatchIndexSink(indexDir: String): (DataFrame, Long) => Unit =
    PersistedStore.foreachBatchSink(indexDir, "signatures") { (batch, _) =>
      val b = batch.localCheckpoint() // fingerprint + build consume it
      buildMinhashIndex(b.sparkSession, b, indexDir,
        PersistedStore.founding(docsFingerprint(b)))
    } { (batch, _) =>
      appendToMinhashIndex(batch.sparkSession, batch, indexDir)
    }

  /** Periodic maintenance: purge physically-stale band rows (buckets
    * that crossed the cap after their rows were stored) and collapse the
    * size-delta log to one row per bucket — the space-debt bound for the
    * O(batch) append path, run on the IVF-retrain cadence. Rewrites the
    * tree behind SafeSwap (this is the op that is ALLOWED to cost
    * O(index)). The append ledger is CARRIED ACROSS the swap: the
    * compacted content already includes every applied batch, but the
    * ledger's other job is replay suppression — a streaming micro-batch
    * redelivered after a compaction (sink appended, process died before
    * the checkpoint committed) must still read as applied, or its
    * signatures and size deltas double-apply. The ledger itself is
    * folded to one generation file first, so the carry is O(1) files.
    * Single-writer, like every maintenance op. */
  def compactMinhashIndex(spark: SparkSession, indexDir: String): Unit =
    PersistedStore.open(indexDir) {
      val sigs = spark.read.parquet(s"$indexDir/signatures")
      val live = readMinhashBands(spark, indexDir)
      val sizes = minhashBucketSizes(spark, indexDir)
      AppendCommit.compactLedger(indexDir)
      PersistedStore.build(indexDir) { tmp =>
        // lazy reads of the live tree execute inside these write actions,
        // strictly before SafeSwap renames it aside
        sigs.write.parquet(s"$tmp/signatures")
        live.write.parquet(s"$tmp/bands")
        sizes.write.parquet(s"$tmp/bucket_sizes")
        AppendCommit.copyLedger(indexDir, tmp)
      }
    }

  /** RTBF cascade hook: physically remove `docIds` from the persisted
    * index — their signature rows, their band rows, AND their
    * contribution to the bucket-size delta log (a NEGATIVE delta batch,
    * so a bucket the deleted docs had pushed over the cap re-exposes
    * its surviving rows exactly as a fresh build over the filtered
    * corpus would hide/show them). The negative deltas are derived from
    * the stored signatures BEFORE the rows leave, committed as an
    * idempotent [[PersistedStore.append]] under the purge id
    * (crash-retry converges; replay no-ops); the row removal itself is
    * unconditional and idempotent
    * ([[graft.pipeline.Maintain.deleteByKey]] — rewrites only files
    * holding the docs, never O(index)). Returns signature rows removed
    * (= docs actually present).
    *
    * Honest cap-window caveat (same class as the append contract): a
    * band row that was never STORED because its bucket was over the cap
    * at its append time cannot be resurrected by a purge that later
    * drops the bucket below the cap — a fresh rebuild stores it. The
    * compaction cadence erases the difference. */
  def purgeMinhashIndex(spark: SparkSession, indexDir: String,
      docIds: Seq[Any]): Long = {
    require(docIds.nonEmpty, "purge needs at least one doc id")
    PersistedStore.append(spark, indexDir, AppendCommit.purgeId(docIds)) {
      val sigDel = Maintain.matchingKeys(
        spark.read.parquet(s"$indexDir/signatures"), "doc_id", docIds)
      val neg = bandRows(sigDel).groupBy(col("band"), col("bh"))
        .agg((count(lit(1)) * lit(-1L)).as("sz"))
      // legacy tree without a size table: fold the derived base sizes
      // (which still include the docs) into this first delta, exactly
      // like the append path's one-time migration
      val delta =
        if (hasSizesTable(spark, indexDir)) neg
        else minhashBucketSizes(spark, indexDir).unionByName(neg)
          .groupBy(col("band"), col("bh")).agg(sum(col("sz")).as("sz"))
      tmp => delta.write.parquet(s"$tmp/bucket_sizes")
    }
    PersistedStore.deleteRows(spark, indexDir, docIds, "doc_id",
      Seq("signatures", "bands"))
  }

  private[graft] val minhashFamily: PersistedStore.Family =
    (spark, dir, keys, _) => purgeMinhashIndex(spark, dir, keys)

  /** Near-dup pairs (corpus doc `a`, incoming doc `b`) between a persisted
    * index and an incoming batch: banding collision against the stored
    * bucket table, then signature-estimate rerank ≥ `minEst`. The corpus
    * is touched only through the index — no corpus re-signing, no
    * corpus-side shingle pass. Incoming docs are assumed id-disjoint from
    * the corpus (the sync layer's immutable-file contract). */
  def incrementalNearDups(spark: SparkSession, indexDir: String,
      incoming: DataFrame, minEst: Double = 0.5): DataFrame =
    PersistedStore.open(indexDir) {
      // no cache: this is the hot per-batch probe path, and a cache pinned
      // here can never be unpersisted (the returned DataFrame consumes it
      // lazily) — one leaked entry per daily batch for the session's
      // lifetime. The two consumers (band derivation, rerank join) instead
      // recompute the batch signatures — 2× the BATCH's shingle+minhash
      // cost, zero extra corpus cost; a caller probing the same batch
      // repeatedly should cache `incoming` itself, which it owns.
      val sigNew = minhashSignatures(incoming)
      val bandsNew = bandRows(sigNew)
        .select(col("band"), col("bh"), col("doc_id").as("b"))
      // live-bucket filter (the read-time half of the append's cap
      // contract), confined to buckets the batch actually collides with:
      // the size aggregation runs over the deltas of candidate buckets
      // only, so probe cost stays O(batch + collisions) however large the
      // index's bucket population is
      val liveTouched = minhashSizeDeltas(spark, indexDir)
        .join(bandsNew.select(col("band"), col("bh")).distinct(),
          Seq("band", "bh"), "left_semi")
        .groupBy(col("band"), col("bh")).agg(sum(col("sz")).as("sz"))
        .filter(col("sz") <= MaxBucketSize)
        .select(col("band"), col("bh"))
      val bandsOld = spark.read.parquet(s"$indexDir/bands")
        .join(liveTouched, Seq("band", "bh"), "left_semi")
        .select(col("band"), col("bh"), col("doc_id").as("a"))
      val cand = bandsOld.join(bandsNew, Seq("band", "bh"))
        .select(col("a"), col("b")).distinct()
      val sigOld = spark.read.parquet(s"$indexDir/signatures")
        .select(col("doc_id").as("a"), col("sig").as("sig_a"))
      cand.join(sigOld, "a")
        .join(sigNew.select(col("doc_id").as("b"), col("sig").as("sig_b")), "b")
        .withColumn("est",
          size(filter(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))
            .cast("double") / MinhashPerms)
        .filter(col("est") >= minEst)
        .select(col("a"), col("b"), col("est"))
    }

  /** Per-process index dir for the gate query (same rationale as
    * [[VectorIndex.gateDir]]: cross-JVM tmp sharing races SafeSwap). */
  private lazy val dedupIndexBase: String =
    java.nio.file.Files.createTempDirectory("graft_mh_").toString

  // ---------------------------------------------------------------------
  // q70_incremental_dedup — DERIVED ORACLE for the whole build/probe
  // machinery (the q32b pattern applied across the index boundary): the
  // corpus is `documents`, the incoming batch is an exact copy of every
  // 10th document (id + 10⁷). DuckDB computes the exact trigram-Jaccard
  // ≥0.6 pairs BETWEEN the two sides; the gate keeps exactly those of
  // them the index probe also surfaces. Equality holds iff signature
  // persistence, band storage, the incremental banding join, and the
  // estimate rerank all reproduce the one-shot pipeline's recall — any
  // regression (stale index read, wrong band slice, estimate off-by-one)
  // shrinks the intersection and hash-mismatches.
  // ---------------------------------------------------------------------
  def q70IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val idx = s"$dedupIndexBase/mh_${dir.hashCode.toHexString}"
    // build once per process+corpus (the gate's analog of ensureIvfIndex;
    // a warehouse deployment rebuilds on sync, keyed by raw fingerprint).
    // The index is assembled through BOTH write paths — build on the even
    // half, append the odd half — so the append ≡ rebuild equivalence is
    // part of what the oracle checks: any append divergence (lost band
    // rows, mis-merged bucket sizes, stale signatures) changes the probe's
    // recall and hash-mismatches. Sentinel lives OUTSIDE idx because each
    // SafeSwap replaces the whole tree.
    if (!new java.io.File(s"$idx.complete").exists()) {
      buildMinhashIndex(s, d.filter(col("doc_id") % 2 === 0), idx)
      appendToMinhashIndex(s, d.filter(col("doc_id") % 2 === 1), idx)
      new java.io.File(s"$idx.complete").createNewFile()
    }
    val incoming = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + PlantOffset).as("doc_id"), col("text"))
    // cross-side pair generation (r15): only corpus × incoming pairs are
    // the gate's subject, so the within-corpus pair expansion — the bulk
    // of the collision stream — never runs (the oracle's own side
    // restriction, applied below the self-join instead of after it)
    val exact = crossJaccardPairs(shingleRows(d.unionByName(incoming)),
        col("doc_id") >= PlantOffset)
      .select(col("a"), col("b")).cache()
    exact.count()
    exact.join(incrementalNearDups(s, idx, incoming),
      Seq("a", "b"), "left_semi")
  }

  val q70IncrementalDedupSql: String =
    """WITH base AS (
      |  SELECT doc_id, text, 0 AS side FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, text, 1 FROM documents
      |  WHERE doc_id % 10 = 0),
      |t AS (SELECT doc_id, side, string_split(text, ' ') AS w FROM base),
      |sh AS (SELECT DISTINCT doc_id, side,
      |         list_aggregate(w[i:i+2], 'string_agg', '_') AS s
      |       FROM t, UNNEST(range(1, len(w) - 1)) AS g(i)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |c AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
      |      FROM sh x JOIN sh y ON x.s = y.s
      |      WHERE x.side = 0 AND y.side = 1
      |      GROUP BY x.doc_id, y.doc_id)
      |SELECT a, b
      |FROM c JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6""".stripMargin

  // ---------------------------------------------------------------------
  // Duplicated-SPAN dedup (ExactSubstr-style, Lee et al. ACL'22
  // "Deduplicating Training Data Makes Language Models Better"): find
  // maximal contiguous word spans that occur verbatim more than once
  // anywhere in the corpus (cross-doc or within-doc), and optionally strip
  // every occurrence. Where the doc-level operators above keep/drop whole
  // documents, this removes the boilerplate *inside* otherwise-unique
  // documents — the dominant duplication mode in web corpora.
  //
  // The paper's single-machine engine is a suffix array; the Spark-first
  // equivalent is a rolling word-k-gram index: a span of length ≥ k is
  // duplicated iff every k-gram inside it is duplicated, so the union of
  // duplicated k-gram intervals [pos, pos+k-1], merged per doc
  // (gaps-and-islands), IS the set of maximal duplicated spans at
  // resolution k.
  //
  // Scale shape (one pass, three key-partitioned shuffles, nothing n²):
  //   words(pos)  --window by doc-->  k-grams hashed to 8 bytes
  //               --window by gram--> occurrence count (dup iff > 1)
  //               --window by doc-->  interval merge
  // Unlike an LSH bucket there is NO pair expansion anywhere — the gram
  // shuffle carries (doc, pos, 8-byte hash) and the hot key produces a
  // COUNT, not count² candidate pairs, so cost stays linear in corpus
  // size even on site-wide boilerplate grams; a pathological gram's
  // occurrence list lands on one WindowExec task, which sorts/spills
  // (UnsafeExternalSorter) rather than OOMing. The single count-window
  // pass is chosen over groupBy-count + join-back deliberately: the join
  // formulation re-derives the gram stream (two consumers of the
  // explode+lead pipeline — a second full scan+window) or caches it,
  // for no reduction in shuffled bytes.
  // ---------------------------------------------------------------------

  /** (doc_id, pos: Long, word) — positions 0-based (posexplode). */
  private def wordRows(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word"))

  /** (doc_id, pos, g): the 8-byte hash of the k-gram starting at each
    * position with ≥ k following words — the ONE gram definition every
    * span operator (q84/q85/q91) and the shared SQL oracle twin must
    * agree on. */
  private def gramRows(corpus: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = wordRows(corpus)
      .select(col("doc_id"), col("pos"), xxhash64(col("word")).as("w0"))
    val leads = (1 until k).map(i => lead(col("w0"), i).over(byDoc).as(s"w$i"))
    words
      .select(Seq(col("doc_id"), col("pos"), col("w0")) ++ leads: _*)
      .filter(col(s"w${k - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        xxhash64((0 until k).map(i => col(s"w$i")): _*).as("g"))
  }

  /** One row per (doc_id, pos) where the k-gram starting at `pos` occurs
    * more than once corpus-wide; `endp` = pos + k - 1 is the last word the
    * gram covers. */
  private def dupGramHits(corpus: DataFrame, k: Int): DataFrame =
    gramRows(corpus, k)
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("occ") > 1)
      .select(col("doc_id"), col("pos"), (col("pos") + (k - 1)).as("endp"))

  /** Gaps-and-islands merge of per-doc (pos, endp) hit intervals into
    * maximal spans — the reporting tail shared by [[duplicatedSpans]]
    * and [[contaminatedSpans]]. */
  private def mergeIslands(hits: DataFrame): DataFrame = {
    val byDocPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevMax = max(col("endp"))
      .over(byDocPos.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("brk",
        when(prevMax.isNull || col("pos") > prevMax + 1, 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(byDocPos))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"), max(col("endp")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_words"))
  }

  /** Maximal duplicated word-spans: (doc_id, span_start, span_end,
    * span_words), positions 0-based inclusive. Overlapping/adjacent
    * duplicated k-gram intervals merge via the classic running-max island
    * break (a new span starts where pos jumps past max(prev endp) + 1). */
  def duplicatedSpans(corpus: DataFrame, k: Int): DataFrame =
    mergeIslands(dupGramHits(corpus, k))

  /** Strip every occurrence of every duplicated span (the released
    * ExactSubstr tool's behavior — all copies go, not all-but-one, so the
    * result is deterministic without choosing a canonical survivor) and
    * reassemble the remaining words in order. Docs stripped to nothing
    * disappear. Covered positions come straight from the gram hits
    * (sequence-explode of [pos, endp], ≤ k× the hit count) — the island
    * merge is only needed for span *reporting*, not removal. */
  def stripDuplicatedSpans(corpus: DataFrame, k: Int): DataFrame =
    reassembleUncovered(corpus, dupGramHits(corpus, k))

  /** The ALL-BUT-ONE stripping mode (Lee et al.'s other policy): each
    * duplicated gram keeps its CANONICAL occurrence — the minimum
    * (doc_id, pos) — and only non-canonical occurrences mark positions
    * for removal. A position survives if every gram covering it is
    * canonical there; the earliest copy of a boilerplate block therefore
    * stays in the corpus, later copies go. Same three-shuffle shape as
    * [[stripDuplicatedSpans]] plus one min-window over each gram's
    * (already-shuffled) occurrence list. */
  def stripDuplicatedSpansKeepFirst(corpus: DataFrame, k: Int): DataFrame = {
    val byGram = Window.partitionBy(col("g"))
    val nonCanonical = gramRows(corpus, k)
      .withColumn("occ", count(lit(1)).over(byGram))
      .withColumn("first_doc", min(col("doc_id")).over(byGram))
      // canonical = min (doc_id, pos) lexicographically: min pos WITHIN
      // the min doc (pos alone would cross documents)
      .withColumn("first_pos",
        min(when(col("doc_id") === col("first_doc"), col("pos")))
          .over(byGram))
      .filter(col("occ") > 1 &&
        !(col("doc_id") === col("first_doc") &&
          col("pos") === col("first_pos")))
      .select(col("doc_id"), col("pos"), (col("pos") + (k - 1)).as("endp"))
    reassembleUncovered(corpus, nonCanonical)
  }

  // ---------------------------------------------------------------------
  // Span-level benchmark DECONTAMINATION — the two-corpus composition of
  // the ExactSubstr machinery: where q62 drops a whole document when it
  // shares n-grams with a benchmark, this strips just the contaminated
  // TEXT (every maximal word-span, at resolution k, that appears
  // verbatim anywhere in the benchmark) and keeps the rest of the
  // document — the higher-recall, lower-collateral policy for eval
  // hygiene (Lee et al. ACL'22 §6 apply their dedup tooling exactly
  // this way across train/test).
  //
  // Scale shape: the corpus side pays the same gram windows as q84; the
  // benchmark side is benchmark-sized BY DEFINITION, so its distinct
  // gram hashes broadcast and the contamination test is a broadcast
  // semi-join on the 8-byte gram hash — the corpus never shuffles
  // against the benchmark, and there is no pair expansion anywhere.
  // ---------------------------------------------------------------------

  /** (doc_id, pos, endp) rows of `corpus` whose k-gram also occurs in
    * `bench` (both need doc_id + text). */
  private def contaminatedHits(corpus: DataFrame, bench: DataFrame,
      k: Int): DataFrame = {
    val benchGrams = gramRows(bench, k).select(col("g")).distinct()
    gramRows(corpus, k)
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"), (col("pos") + (k - 1)).as("endp"))
  }

  /** Maximal benchmark-contaminated spans per corpus doc (reporting). */
  def contaminatedSpans(corpus: DataFrame, bench: DataFrame,
      k: Int): DataFrame =
    mergeIslands(contaminatedHits(corpus, bench, k))

  /** Strip every benchmark-contaminated span from the corpus and
    * reassemble (docs stripped to nothing disappear — fully-leaked
    * documents are exactly the ones q62 would have dropped whole). */
  def stripContaminatedSpans(corpus: DataFrame, bench: DataFrame,
      k: Int): DataFrame =
    reassembleUncovered(corpus, contaminatedHits(corpus, bench, k))

  /** Shared tail of both strip modes: explode covered intervals, anti-join
    * against the word stream, reassemble survivors in order. */
  private def reassembleUncovered(corpus: DataFrame,
      hits: DataFrame): DataFrame = {
    val covered = hits
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("endp"))).as("pos"))
      .distinct()
    wordRows(corpus).join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("word")))),
            x => x.getField("word")), " ").as("kept_text"))
  }

  /** Gate corpus: every 7th document re-appears (id + 2·10⁶) with words
    * 3..14 of the original embedded between unique filler — so the
    * duplicated region is a *partial* span inside both docs, not a
    * whole-doc dup, and both sides must report it. */
  private def spanCorpus(d: DataFrame): DataFrame = {
    val planted = d.filter(col("doc_id") % 7 === 0).select(
      (col("doc_id") + 2000000L).as("doc_id"),
      concat(lit("plant "), (col("doc_id") % 5).cast("string"),
        lit(" opens here "),
        array_join(slice(split(col("text"), " "), 3, 12), " "),
        lit(" and closes "), (col("doc_id") % 3).cast("string")).as("text"))
    d.select(col("doc_id"), col("text")).unionByName(planted)
  }

  private val spanCorpusSql: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |    'plant ' || (doc_id % 5) || ' opens here ' ||
      |    array_to_string(list_slice(string_split(text, ' '), 3, 14), ' ') ||
      |    ' and closes ' || (doc_id % 3)
      |  FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** Oracle twin of [[dupGramHits]] + islands: grams are the raw
    * word-8-grams joined with '|' (the Spark side hashes them to 8 bytes
    * before the shuffle — same duplicated set barring a 2⁻⁶⁴ collision,
    * the q33 convention). */
  private val spanHitsSql: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
      |wd AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
      |       FROM w, UNNEST(range(1, len(ws) + 1)) AS gg(i)),
      |gr AS (SELECT doc_id, pos,
      |         word || '|' || lead(word, 1) OVER dw || '|' ||
      |         lead(word, 2) OVER dw || '|' || lead(word, 3) OVER dw || '|' ||
      |         lead(word, 4) OVER dw || '|' || lead(word, 5) OVER dw || '|' ||
      |         lead(word, 6) OVER dw || '|' || lead(word, 7) OVER dw AS g
      |       FROM wd WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
      |hits AS (SELECT doc_id, pos, pos + 7 AS endp
      |         FROM (SELECT doc_id, pos,
      |                 COUNT(*) OVER (PARTITION BY g) AS occ
      |               FROM gr WHERE g IS NOT NULL)
      |         WHERE occ > 1)""".stripMargin

  def q84DupSpans(s: SparkSession, dir: String): DataFrame =
    duplicatedSpans(spanCorpus(t(s, dir, "documents")), 8)

  val q84DupSpansSql: String =
    s"""WITH $spanCorpusSql,
      |$spanHitsSql,
      |brk AS (SELECT doc_id, pos, endp,
      |          CASE WHEN MAX(endp) OVER pw IS NULL
      |                 OR pos > MAX(endp) OVER pw + 1
      |               THEN 1 ELSE 0 END AS brk
      |        FROM hits
      |        WINDOW pw AS (PARTITION BY doc_id ORDER BY pos
      |                      ROWS BETWEEN UNBOUNDED PRECEDING
      |                      AND 1 PRECEDING)),
      |isl AS (SELECT doc_id, pos, endp,
      |          SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      |        FROM brk)
      |SELECT doc_id, MIN(pos) AS span_start, MAX(endp) AS span_end,
      |  MAX(endp) - MIN(pos) + 1 AS span_words
      |FROM isl GROUP BY doc_id, isl""".stripMargin

  def q85StripSpans(s: SparkSession, dir: String): DataFrame =
    stripDuplicatedSpans(spanCorpus(t(s, dir, "documents")), 8)
      .select(col("doc_id"), col("n_kept"),
        md5(col("kept_text").cast("binary")).as("kept_md5"))

  val q85StripSpansSql: String =
    s"""WITH $spanCorpusSql,
      |$spanHitsSql,
      |cov AS (SELECT DISTINCT doc_id, UNNEST(generate_series(pos, endp))
      |          AS pos FROM hits)
      |SELECT wd.doc_id AS doc_id, COUNT(*) AS n_kept,
      |  md5(string_agg(wd.word, ' ' ORDER BY wd.pos)) AS kept_md5
      |FROM wd LEFT JOIN cov ON wd.doc_id = cov.doc_id AND wd.pos = cov.pos
      |WHERE cov.pos IS NULL
      |GROUP BY wd.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q100_decontaminate_spans — gate for span-level decontamination: the
  // benchmark leaks words 3..14 of every 9th document (wrapped in
  // benchmark-only framing text, so only the leaked slice — not the
  // framing — matches corpus grams). The gate strips corpus-side
  // contamination and hashes every survivor's reassembled text: a missed
  // hit, an off-by-one interval, or collateral stripping of clean text
  // all change some doc's kept_md5 and hash-fail. Organic corpus
  // near-dups of a leaked doc get stripped too (their grams ARE in the
  // benchmark) — deterministic, and mirrored by the oracle.
  // ---------------------------------------------------------------------
  def q100DecontaminateSpans(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 9 === 0).select(
      col("doc_id"),
      concat(lit("bench q "), (col("doc_id") % 4).cast("string"),
        lit(" : "),
        array_join(slice(split(col("text"), " "), 3, 12), " "),
        lit(" ans")).as("text"))
    stripContaminatedSpans(d, bench, 8)
      .select(col("doc_id"), col("n_kept"),
        md5(col("kept_text").cast("binary")).as("kept_md5"))
  }

  val q100DecontaminateSpansSql: String =
    """WITH corpus AS (SELECT doc_id, text FROM documents),
      |bench AS (
      |  SELECT doc_id,
      |    'bench q ' || (doc_id % 4) || ' : ' ||
      |    array_to_string(list_slice(string_split(text, ' '), 3, 14), ' ') ||
      |    ' ans' AS text
      |  FROM documents WHERE doc_id % 9 = 0),
      |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
      |wd AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
      |       FROM w, UNNEST(range(1, len(ws) + 1)) AS gg(i)),
      |gr AS (SELECT doc_id, pos,
      |         word || '|' || lead(word, 1) OVER dw || '|' ||
      |         lead(word, 2) OVER dw || '|' || lead(word, 3) OVER dw || '|' ||
      |         lead(word, 4) OVER dw || '|' || lead(word, 5) OVER dw || '|' ||
      |         lead(word, 6) OVER dw || '|' || lead(word, 7) OVER dw AS g
      |       FROM wd WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
      |bw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM bench),
      |bwd AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
      |        FROM bw, UNNEST(range(1, len(ws) + 1)) AS gg(i)),
      |bgr AS (SELECT DISTINCT g FROM (
      |          SELECT word || '|' || lead(word, 1) OVER dw || '|' ||
      |            lead(word, 2) OVER dw || '|' || lead(word, 3) OVER dw
      |            || '|' ||
      |            lead(word, 4) OVER dw || '|' || lead(word, 5) OVER dw
      |            || '|' ||
      |            lead(word, 6) OVER dw || '|' || lead(word, 7) OVER dw AS g
      |          FROM bwd
      |          WINDOW dw AS (PARTITION BY doc_id ORDER BY pos))
      |        WHERE g IS NOT NULL),
      |hits AS (SELECT doc_id, pos, pos + 7 AS endp
      |         FROM gr
      |         WHERE g IS NOT NULL AND g IN (SELECT g FROM bgr)),
      |cov AS (SELECT DISTINCT doc_id, UNNEST(generate_series(pos, endp))
      |          AS pos FROM hits)
      |SELECT wd.doc_id AS doc_id, COUNT(*) AS n_kept,
      |  md5(string_agg(wd.word, ' ' ORDER BY wd.pos)) AS kept_md5
      |FROM wd LEFT JOIN cov ON wd.doc_id = cov.doc_id AND wd.pos = cov.pos
      |WHERE cov.pos IS NULL
      |GROUP BY wd.doc_id""".stripMargin

  def q91StripKeepFirst(s: SparkSession, dir: String): DataFrame =
    stripDuplicatedSpansKeepFirst(spanCorpus(t(s, dir, "documents")), 8)
      .select(col("doc_id"), col("n_kept"),
        md5(col("kept_text").cast("binary")).as("kept_md5"))

  val q91StripKeepFirstSql: String =
    s"""WITH $spanCorpusSql,
      |$spanHitsSql,
      |oc AS (SELECT doc_id, pos, g,
      |         COUNT(*) OVER (PARTITION BY g) AS occ,
      |         MIN(doc_id) OVER (PARTITION BY g) AS first_doc
      |       FROM gr WHERE g IS NOT NULL),
      |oc2 AS (SELECT doc_id, pos, occ, first_doc,
      |          MIN(CASE WHEN doc_id = first_doc THEN pos END)
      |            OVER (PARTITION BY g) AS first_pos
      |        FROM oc),
      |nc AS (SELECT doc_id, pos, pos + 7 AS endp FROM oc2
      |       WHERE occ > 1
      |         AND NOT (doc_id = first_doc AND pos = first_pos)),
      |cov AS (SELECT DISTINCT doc_id, UNNEST(generate_series(pos, endp))
      |          AS pos FROM nc)
      |SELECT wd.doc_id AS doc_id, COUNT(*) AS n_kept,
      |  md5(string_agg(wd.word, ' ' ORDER BY wd.pos)) AS kept_md5
      |FROM wd LEFT JOIN cov ON wd.doc_id = cov.doc_id AND wd.pos = cov.pos
      |WHERE cov.pos IS NULL
      |GROUP BY wd.doc_id""".stripMargin
}
