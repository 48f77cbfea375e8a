package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Distributed text classification — the multinomial Naive Bayes
  * train/predict pair a corpus pipeline runs as its cheap first-pass
  * quality or language classifier (the fastText-before-fastText shape:
  * bag-of-tokens, add-one smoothing, argmax of log-posteriors). NB is
  * the one classic classifier whose TRAINING is pure relational
  * aggregation — per-(class, token) counts — so both train and predict
  * scale as shuffle-on-key plans with no driver-side optimization loop,
  * and the whole thing is oracle-checkable in SQL.
  *
  * Scale shape (100 TB corpus, L classes, vocabulary V):
  *  - train: one groupBy(class, token) over exploded tokens (map-side
  *    partial combine collapses each task to ≤ V·L rows), one
  *    groupBy(class) rollup of L rows, one V-count. No collect.
  *  - model: V·L rows — joined to the scoring side SHUFFLE-on-token,
  *    never broadcast (corpus-scale vocabularies don't fit an executor;
  *    the per-CLASS tables that do fit — priors, totals — are the only
  *    broadcasts).
  *  - predict: tokens expand ×L (L is small by design for a classifier
  *    — that factor is the model's own arity, not data skew), fold to
  *    one row per (doc, class), argmax over an L-row window partitioned
  *    by doc_id (high cardinality — never a global window).
  *
  * Determinism: per-(doc, class) log-likelihood is the q92/q109 ordered
  * fold — distinct-token weights n·ln(p) summed in token sort order via
  * a sorted-list fold — so the score doubles (and therefore the argmax)
  * are reproducible across engines and partitionings.
  */
object Classify {

  /** Multinomial NB scores: one row per (doc, class) with the
    * add-one-smoothed log-posterior. `train` carries (labelCol, text);
    * `predict` carries (idCol, text). Tokens unseen in training fall
    * back to the class's smoothed floor ln(1/(t_l + V)) — the same
    * value add-one assigns a count-0 token — so out-of-vocabulary
    * scoring needs no vocabulary membership test on the hot side. */
  def naiveBayesScores(train: DataFrame, predict: DataFrame,
      labelCol: String, idCol: String): DataFrame = {
    val toks = train.select(col(labelCol).as("lbl"),
      explode(split(col("text"), " ")).as("tok"))
    val classTok = toks.groupBy(col("lbl"), col("tok"))
      .agg(count(lit(1)).as("c"))
    // Class-level tables: L rows each — the broadcastable side.
    val classTot = classTok.groupBy(col("lbl"))
      .agg(sum(col("c")).as("t"))
    val vocabV = classTok.select(col("tok")).distinct()
      .agg(count(lit(1)).cast("double").as("v"))
    val priors = train.groupBy(col(labelCol).as("lbl"))
      .agg(count(lit(1)).as("n_docs"))
    val priorLog = priors
      .crossJoin(broadcast(priors.agg(sum(col("n_docs")).as("n_all"))))
      .select(col("lbl"), log(col("n_docs").cast("double")
        / col("n_all").cast("double")).as("log_prior"))
    val classDefault = classTot.crossJoin(broadcast(vocabV))
      .select(col("lbl"),
        log(lit(1.0) / (col("t").cast("double") + col("v")))
          .as("log_floor"))
    // Model: V·L rows, keyed on token for the scoring join.
    val logp = classTok
      .join(broadcast(classTot), Seq("lbl"))
      .crossJoin(broadcast(vocabV))
      .select(col("lbl"), col("tok"),
        log((col("c").cast("double") + lit(1.0))
          / (col("t").cast("double") + col("v"))).as("logp"))
    val docToks = predict.select(col(idCol).as("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("n"))
    val expanded = docToks
      .crossJoin(broadcast(classTot.select(col("lbl"))))
      .join(logp, Seq("lbl", "tok"), "left")
      .join(broadcast(classDefault), Seq("lbl"))
      .select(col("doc_id"), col("lbl"),
        struct(col("tok"), (col("n").cast("double")
          * coalesce(col("logp"), col("log_floor"))).as("w")).as("tw"))
    expanded.groupBy(col("doc_id"), col("lbl"))
      .agg(array_sort(collect_list(col("tw"))).as("tws"))
      .join(broadcast(priorLog), Seq("lbl"))
      .select(col("doc_id"), col("lbl"),
        (col("log_prior") + aggregate(col("tws"), lit(0.0d),
          (acc, x) => acc + x.getField("w"))).as("score"))
  }

  /** Argmax over [[naiveBayesScores]]: one prediction per doc, ties
    * broken by class ascending (a total order, so the winner is
    * well-defined even on degenerate fixtures). */
  def naiveBayesPredict(train: DataFrame, predict: DataFrame,
      labelCol: String, idCol: String): DataFrame = {
    // argmax as an AGGREGATE (r15, the labelPropagation trick): min over
    // (−score, lbl) structs ≡ the former row_number pick over
    // (score desc, lbl asc) — IEEE negation is exact, so the winner is
    // bit-identical — but it partial-aggregates map-side and drops the
    // per-doc sort (guide §2.3). The equivalence assumes FINITE scores
    // (the scorer's log-sums are): a NaN sorts largest, so the window
    // ranked it first while this min ranks it last.
    naiveBayesScores(train, predict, labelCol, idCol)
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("negs"), col("lbl"))).as("__m"))
      .select(col("doc_id"), col("__m.lbl").as("pred"))
  }

  /** Mutual information between document-level token presence and the
    * class variable — the classic feature-selection statistic a
    * classifier pipeline runs to find (or prune) the tokens that carry
    * the label signal:
    *   MI(t) = Σ_{e∈{0,1}} Σ_c  N_ec/N · ln(N·N_ec / (N_e·N_c))
    * with N_1c = docs of class c containing t. Everything up to the
    * final ln is INTEGER-derived (a dense vocab×L grid of presence
    * counts — the NB model's own shape), the per-token reduction is a
    * class-sorted ordered fold, and the ranked output carries integer
    * evidence only (rnk, tok, doc frequency) — the q119 discipline for
    * log-scored rankings.
    *
    * Scale: presence counts are one groupBy(tok, class) with map-side
    * combine; the grid is vocab×L rows windowed BY TOKEN (L-row
    * partitions on a high-cardinality key); top-k is
    * TakeOrderedAndProject. No collect, no broadcast of the vocab. */
  def tokenClassMi(df: DataFrame, labelCol: String, idCol: String,
      k: Int): DataFrame = {
    val present = df.select(col(idCol).as("doc_id"),
        col(labelCol).as("lbl"),
        explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val n1c = present.groupBy(col("tok"), col("lbl"))
      .agg(count(lit(1)).as("n1"))
    val classes = df.groupBy(col(labelCol).as("lbl"))
      .agg(count(lit(1)).as("nc"))
    val totN = df.agg(count(lit(1)).cast("double").as("n"))
    val grid = n1c.select(col("tok")).distinct()
      .crossJoin(broadcast(classes))
      .join(n1c, Seq("tok", "lbl"), "left")
      .select(col("tok"), col("lbl"), col("nc"),
        coalesce(col("n1"), lit(0L)).as("n1"))
    val g2 = grid.withColumn("n1t",
        sum(col("n1")).over(Window.partitionBy(col("tok"))))
      .crossJoin(broadcast(totN))
    val nD = col("n")
    val n1D = col("n1").cast("double")
    val ncD = col("nc").cast("double")
    val n1tD = col("n1t").cast("double")
    val n0D = (col("nc") - col("n1")).cast("double")
    val n0tD = nD - n1tD
    val w1 = when(col("n1") > 0,
      (n1D / nD) * log((nD * n1D) / (n1tD * ncD))).otherwise(lit(0.0))
    val w0 = when(col("nc") - col("n1") > 0,
      (n0D / nD) * log((nD * n0D) / (n0tD * ncD))).otherwise(lit(0.0))
    val mi = g2
      .select(col("tok"), col("n1t"),
        struct(col("lbl"), (w1 + w0).as("w")).as("lw"))
      .groupBy(col("tok"))
      .agg(max(col("n1t")).as("n_docs"),
        array_sort(collect_list(col("lw"))).as("lws"))
      .select(col("tok"), col("n_docs"),
        aggregate(col("lws"), lit(0.0d),
          (acc, x) => acc + x.getField("w")).as("mi"))
    val top = mi.orderBy(col("mi").desc, col("tok").asc).limit(k)
    Similarity.rankBounded(top, "rnk",
        Seq(col("mi").desc, col("tok").asc))
      .select(col("rnk").cast("int").as("rnk"), col("tok"), col("n_docs"))
  }

  // ---------------------------------------------------------------------
  // q235_token_mi — top-15 language-signal tokens by presence/class
  // mutual information. The oracle replays the dense grid (zero cells
  // included — dropping a zero N_1c cell changes the e=0 term and
  // reranks), the window'd token marginals, and the class-ordered fold.
  // ---------------------------------------------------------------------
  def q235TokenMi(s: SparkSession, dir: String): DataFrame =
    tokenClassMi(t(s, dir, "documents"), "lang", "doc_id", k = 15)

  val q235TokenMiSql: String =
    """WITH present AS (
      |  SELECT DISTINCT doc_id, lbl, tok FROM (
      |    SELECT doc_id, lang AS lbl,
      |      unnest(string_split(text, ' ')) AS tok
      |    FROM documents)),
      |n1c AS (SELECT tok, lbl, COUNT(*) AS n1
      |        FROM present GROUP BY tok, lbl),
      |classes AS (SELECT lang AS lbl, COUNT(*) AS nc
      |            FROM documents GROUP BY lang),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
      |grid AS (
      |  SELECT v.tok, c.lbl, c.nc, COALESCE(x.n1, 0) AS n1
      |  FROM (SELECT DISTINCT tok FROM n1c) v
      |  CROSS JOIN classes c
      |  LEFT JOIN n1c x ON x.tok = v.tok AND x.lbl = c.lbl),
      |g2 AS (
      |  SELECT tok, lbl, nc, n1,
      |    SUM(n1) OVER (PARTITION BY tok) AS n1t
      |  FROM grid),
      |terms AS (
      |  SELECT tok, lbl, CAST(n1t AS BIGINT) AS n1t,
      |    (CASE WHEN n1 > 0 THEN
      |      (CAST(n1 AS DOUBLE) / nn.n)
      |        * ln((nn.n * CAST(n1 AS DOUBLE))
      |             / (CAST(n1t AS DOUBLE) * CAST(nc AS DOUBLE)))
      |     ELSE 0.0 END)
      |    + (CASE WHEN nc - n1 > 0 THEN
      |      (CAST(nc - n1 AS DOUBLE) / nn.n)
      |        * ln((nn.n * CAST(nc - n1 AS DOUBLE))
      |             / ((nn.n - CAST(n1t AS DOUBLE)) * CAST(nc AS DOUBLE)))
      |     ELSE 0.0 END) AS w
      |  FROM g2 CROSS JOIN nn),
      |mi AS (
      |  SELECT tok, MAX(n1t) AS n_docs,
      |    list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY lbl)),
      |      (a, b) -> a + b) AS mi
      |  FROM terms GROUP BY tok)
      |SELECT CAST(rnk AS INT) AS rnk, tok, n_docs FROM (
      |  SELECT tok, n_docs,
      |    ROW_NUMBER() OVER (ORDER BY mi DESC, tok ASC) AS rnk
      |  FROM mi)
      |WHERE rnk <= 15""".stripMargin

  // ---------------------------------------------------------------------
  // q232_nb_confusion — resubstitution confusion matrix of the NB
  // language classifier over documents (train = predict = the corpus;
  // the gate grades the train/score/argmax machinery, not generalization:
  // per-(class, token) counts, add-one smoothing, ordered-fold scoring,
  // tie-broken argmax). Output is integer-only (true class, predicted
  // class, count) — the most hash-robust shape there is.
  // ---------------------------------------------------------------------
  def q232NbConfusion(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    naiveBayesPredict(d.select(col("lang"), col("text")),
        d.select(col("doc_id"), col("text")), "lang", "doc_id")
      .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  val q232NbConfusionSql: String =
    """WITH toks AS (
      |  SELECT lang AS lbl, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |class_tok AS (
      |  SELECT lbl, tok, COUNT(*) AS c FROM toks GROUP BY lbl, tok),
      |class_tot AS (SELECT lbl, SUM(c) AS t FROM class_tok GROUP BY lbl),
      |vocab AS (
      |  SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v FROM class_tok),
      |prior AS (
      |  SELECT lbl, ln(CAST(n_docs AS DOUBLE) / CAST(n_all AS DOUBLE))
      |    AS log_prior
      |  FROM (SELECT lang AS lbl, COUNT(*) AS n_docs,
      |          SUM(COUNT(*)) OVER () AS n_all
      |        FROM documents GROUP BY lang)),
      |logp AS (
      |  SELECT ct.lbl, ct.tok,
      |    ln((CAST(ct.c AS DOUBLE) + 1.0) / (CAST(tt.t AS DOUBLE) + v.v))
      |      AS logp
      |  FROM class_tok ct JOIN class_tot tt USING (lbl) CROSS JOIN vocab v),
      |doc_toks AS (
      |  SELECT doc_id, tok, COUNT(*) AS n FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents) GROUP BY doc_id, tok),
      |scores AS (
      |  SELECT dt.doc_id, l.lbl,
      |    ANY_VALUE(p.log_prior) + list_reduce(list_prepend(0.0::DOUBLE,
      |      list(CAST(dt.n AS DOUBLE) * lp.logp ORDER BY dt.tok)),
      |      (a, b) -> a + b) AS score
      |  FROM doc_toks dt
      |  CROSS JOIN (SELECT lbl FROM class_tot) l
      |  JOIN logp lp ON lp.lbl = l.lbl AND lp.tok = dt.tok
      |  JOIN prior p ON p.lbl = l.lbl
      |  GROUP BY dt.doc_id, l.lbl),
      |pred AS (
      |  SELECT doc_id, lbl AS pred FROM (
      |    SELECT doc_id, lbl,
      |      ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, lbl ASC) AS r
      |    FROM scores) WHERE r = 1)
      |SELECT d.lang, p.pred, COUNT(*) AS n
      |FROM pred p JOIN documents d USING (doc_id)
      |GROUP BY d.lang, p.pred""".stripMargin
}
