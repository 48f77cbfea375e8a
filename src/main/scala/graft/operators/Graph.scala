package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Link-graph PageRank (Page et al. 1999) — the curation signal
  * web-scale corpora actually use for document quality (a la Common
  * Crawl's host-graph ranks feeding corpus filters). Fixed iteration
  * count, no RNG.
  *
  * Scale shape: each iteration is one equi-join (edges ⋈ ranks on src —
  * shuffle-on-key, never a cartesian) and one groupBy(dst) aggregate.
  * Rank state is one row per node; edges are re-used across iterations
  * from a materialized (localCheckpoint) edge list, so the shuffle plan
  * does not grow with iteration count — plan truncation per iteration is
  * the standard guard against Catalyst lineage blowup in iterative
  * algorithms (the Components loop uses the same discipline).
  *
  * Determinism discipline (the q92/q109 rule): the per-node contribution
  * sum is an ordered fold over src-sorted structs, so the rank doubles
  * are bit-reproducible across engines and partitionings — floats that
  * feed content-addressed curation decisions must not depend on Spark's
  * reduction order.
  */
object Graph {

  /** Per-iteration lineage truncation for the loops below. `None` →
    * `localCheckpoint`: blocks live on EXECUTORS — fast (no FS
    * round-trip), but truncated lineage cannot recompute, so at
    * cluster scale one lost executor kills the whole iterative job.
    * `Some(dir)` → RELIABLE checkpoint under `dir` on the cluster FS:
    * each round's state survives executor loss and recomputes from
    * the checkpoint, at one FS write per truncation — the
    * 1000-executor setting's choice (SCALING.md §graphs). The two
    * modes are semantically identical (bit-identical output — spec'd
    * on kCore); pick by failure budget, not by result.
    *
    * LIFECYCLE (one Truncator per op invocation): the checkpoint dir
    * is set ONCE at construction — `setCheckpointDir` creates a fresh
    * UUID subdir per call, so the previous per-truncation call pattern
    * both leaked one directory per round and raced the session-GLOBAL
    * setting across concurrent ops (that global remains Spark's
    * contract: two concurrent ops with different dirs may interleave
    * whose dir a checkpoint lands in — harmless for correctness, each
    * RDD records its actual path). [[pin]] is for loop-invariant state
    * (edges, nodes — referenced by every later round, never deleted
    * here). [[roll]] is for per-round state: once round i+1's
    * checkpoint has materialized (eager), round i's is unreachable by
    * construction and its files are DELETED — a long iterative run
    * holds at most one superseded state copy per slot on the cluster
    * FS instead of one per round. */
  private[operators] final class Truncator(
      spark: org.apache.spark.sql.SparkSession,
      checkpointDir: Option[String]) {
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)

    private val prevBySlot =
      scala.collection.mutable.Map.empty[String, String]

    private def reliableFileOf(df: DataFrame): Option[String] =
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.getCheckpointFile
        case _ => None
      }

    private def cut(df: DataFrame): DataFrame = checkpointDir match {
      case None => df.localCheckpoint()
      case Some(_) => df.checkpoint() // eager: materialized on return
    }

    /** Loop-invariant truncation: never deleted by this Truncator. */
    def pin(df: DataFrame): DataFrame = cut(df)

    /** Per-round truncation of the named state slot; deletes the
      * slot's SUPERSEDED checkpoint after the new one materializes. */
    def roll(slot: String, df: DataFrame): DataFrame = {
      val out = cut(df)
      if (checkpointDir.isDefined) {
        prevBySlot.get(slot).foreach { old =>
          val p = new org.apache.hadoop.fs.Path(old)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
        reliableFileOf(out) match {
          case Some(f) => prevBySlot(slot) = f
          case None => prevBySlot.remove(slot)
        }
      }
      out
    }
  }

  /** Sidecar aggregates riding a [[Truncator]] roll (guide §1.2 — the
    * per-round stats/convergence job disappears into the checkpoint
    * job): observe `metrics` on `df`'s plan, roll it, and read the
    * metrics back from the SAME QueryExecution's CollectMetricsExec
    * accumulator. Both roll modes (`localCheckpoint` and reliable
    * `checkpoint`) are `withAction`-wrapped in Spark, so the plan has
    * executed — and the accumulator is final — when roll returns; the
    * read is synchronous plan-state, no listener race. The direct
    * re-aggregate fallback is defensive only (a roll mode that stopped
    * executing the observed plan), proven unused by `GraphSpec`.
    *
    * SPARK-VERSION PIN: single execution of the observed plan under
    * eager reliable `checkpoint` is a Spark 4.x behavior (eager mode
    * calls `internalRdd.doCheckpoint()` directly — one job). Spark 3.x
    * eager reliable checkpoint ran a count job PLUS a
    * recompute-and-write job, which would double the count metric and
    * xor-cancel the bit_xor hash to 0 — falsely converging any checksum
    * loop after one round in reliable mode. When bumping Spark, keep
    * the GraphSpec reliable-vs-local bit-identity test as the guard. */
  private[operators] def rollObserved(tr: Truncator, slot: String,
      df: DataFrame, metrics: Seq[org.apache.spark.sql.Column])
      : (DataFrame, org.apache.spark.sql.Row) = {
    val name = "roll_sidecar"
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val out = tr.roll(slot, observed)
    val row = observed.queryExecution.observedMetrics.get(name)
      .getOrElse(out.agg(metrics.head, metrics.tail: _*).head())
    (out, row)
  }

  /** Ranks after `iters` iterations at damping `d`, over the directed
    * edge set (cols `src`, `dst`; parallel edges collapse). Nodes =
    * endpoint union; dangling nodes keep the teleport term only (mass
    * leaks, standard simplified PageRank — the gate graph is symmetric,
    * so nothing dangles there). `checkpointDir` selects reliable
    * per-iteration checkpointing ([[truncate]]). */
  def pageRank(edges: DataFrame, iters: Int, d: Double,
      checkpointDir: Option[String] = None): DataFrame = {
    val tr = new Truncator(edges.sparkSession, checkpointDir)
    // (r15 note: pre-partitioning e by dst — the per-iteration groupBy
    // key — was tried and measured a wash: localCheckpoint returns a
    // bare Scan ExistingRDD with NO outputPartitioning, so the loop's
    // exchange survives anyway and the repartition only added a setup
    // shuffle. Pinning partitioning through a checkpoint would need the
    // reliable-checkpoint path or a bucketed write.)
    val e = tr.pin(edges.select(col("src"), col("dst")).distinct())
    // loop-invariant, referenced in every iteration's SEPARATE roll job:
    // without the pin each iteration re-aggregates the degree from the
    // pinned edges (exchange reuse only dedups within one job, never
    // across the loop's jobs — guide §2.4/§5). (r14 note: additionally
    // pre-partitioning e by src was tried and measured slower — the rank
    // table is small enough that the join broadcasts it.)
    val out = tr.pin(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    // node count rides the pin as an observed sidecar (rollObserved —
    // the k-core/components discipline): one job instead of pin + count
    val (nodes, nRow) = rollObserved(tr, "nodes",
      e.select(col("src").as("node")).union(e.select(col("dst")))
        .distinct(),
      Seq(count(lit(1)).as("n")))
    val n = nRow.getLong(0)
    // all float arithmetic stays engine-side in one expression shape per
    // term, mirrored verbatim by the SQL oracle. `1 − d` is exact decimal
    // arithmetic there (`1.0 - 0.85` is DECIMAL 0.15, cast to double only
    // for the division by n), so it is exact here too: the double
    // subtraction gives 0.15000000000000002 and drifts every rank.
    val teleport = lit((BigDecimal(1) - BigDecimal(d)).toDouble) /
      lit(n.toDouble)
    var ranks = nodes.select(col("node"),
      (lit(1.0) / lit(n.toDouble)).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .join(out, "src")
        .select(col("dst"), struct(col("src"),
          (col("rank") / col("outdeg").cast("double")).as("w")).as("sw"))
      val folded = contrib.groupBy(col("dst"))
        .agg(array_sort(collect_list(col("sw"))).as("ws"))
        .select(col("dst").as("node"),
          (teleport + lit(d) * aggregate(col("ws"), lit(0.0d),
            (acc, x) => acc + x.getField("w"))).as("rank"))
      ranks = tr.roll("ranks", nodes.join(folded, Seq("node"), "left")
        .select(col("node"), coalesce(col("rank"), teleport).as("rank")))
    }
    ranks
  }

  // ---------------------------------------------------------------------
  // q122_pagerank — customer↔supplier interaction graph from
  // lineitem⋈orders (both directions, so the graph is symmetric and no
  // mass dangles), 3 iterations, d = 0.85, top 20.
  // ---------------------------------------------------------------------
  def q122Pagerank(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val cs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      .distinct()
    val edges = cs.unionByName(
      cs.select(col("dst").as("src"), col("src").as("dst")))
    val r = pageRank(edges, iters = 3, d = 0.85)
    val top = r.orderBy(col("rank").desc, col("node").asc).limit(20)
    Similarity.rankBounded(top, "rnk",
        Seq(col("rank").desc, col("node").asc))
      .select(col("rnk").cast("int").as("rnk"), col("node"), col("rank"))
  }

  val q122PagerankSql: String =
    """WITH cs AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |    's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS (SELECT src, dst FROM cs UNION SELECT dst, src FROM cs),
      |outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      |r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
      |f1 AS (
      |  SELECT e.dst AS node,
      |    (1.0 - 0.85) / MIN(nn.n) + 0.85 * list_reduce(
      |      list_prepend(0.0::DOUBLE,
      |        list(r.rank / CAST(o.outdeg AS DOUBLE) ORDER BY e.src)),
      |      (a, b) -> a + b) AS rank
      |  FROM e JOIN r0 r ON e.src = r.node JOIN outd o ON e.src = o.src
      |    CROSS JOIN nn
      |  GROUP BY e.dst),
      |r1 AS (SELECT nodes.node,
      |    COALESCE(f1.rank, (1.0 - 0.85) / nn.n) AS rank
      |  FROM nodes CROSS JOIN nn LEFT JOIN f1 ON nodes.node = f1.node),
      |f2 AS (
      |  SELECT e.dst AS node,
      |    (1.0 - 0.85) / MIN(nn.n) + 0.85 * list_reduce(
      |      list_prepend(0.0::DOUBLE,
      |        list(r.rank / CAST(o.outdeg AS DOUBLE) ORDER BY e.src)),
      |      (a, b) -> a + b) AS rank
      |  FROM e JOIN r1 r ON e.src = r.node JOIN outd o ON e.src = o.src
      |    CROSS JOIN nn
      |  GROUP BY e.dst),
      |r2 AS (SELECT nodes.node,
      |    COALESCE(f2.rank, (1.0 - 0.85) / nn.n) AS rank
      |  FROM nodes CROSS JOIN nn LEFT JOIN f2 ON nodes.node = f2.node),
      |f3 AS (
      |  SELECT e.dst AS node,
      |    (1.0 - 0.85) / MIN(nn.n) + 0.85 * list_reduce(
      |      list_prepend(0.0::DOUBLE,
      |        list(r.rank / CAST(o.outdeg AS DOUBLE) ORDER BY e.src)),
      |      (a, b) -> a + b) AS rank
      |  FROM e JOIN r2 r ON e.src = r.node JOIN outd o ON e.src = o.src
      |    CROSS JOIN nn
      |  GROUP BY e.dst),
      |r3 AS (SELECT nodes.node,
      |    COALESCE(f3.rank, (1.0 - 0.85) / nn.n) AS rank
      |  FROM nodes CROSS JOIN nn LEFT JOIN f3 ON nodes.node = f3.node)
      |SELECT CAST(rnk AS INT) AS rnk, node, rank FROM (
      |  SELECT node, rank,
      |    ROW_NUMBER() OVER (ORDER BY rank DESC, node ASC) AS rnk
      |  FROM r3)
      |WHERE rnk <= 20""".stripMargin

  // (r15 note: replacing the co-purchase lineitem self-join with
  // per-order collect_set + map-side pair explosion was tried and
  // measured SLOWER across the family (q140 4.56 -> 6.40 s, q183
  // 4.90 -> 5.40, q221 2.60 -> 3.23; only q240 improved) — the
  // self-join's two sides share ONE reused exchange and the sort-merge
  // beats the ObjectHashAggregate + array slice/explode per order.
  // Keep the join form.)

  /** Triangle counting with degree-ordered orientation (the MapReduce
    * classic, Suri & Vassilvitskii WWW'11): orient every undirected edge
    * from its lower-(degree, id) endpoint to the higher one, join
    * oriented wedges (a→b, a→c) against the oriented closing edge (b→c).
    * Orientation counts each triangle exactly once AND bounds the wedge
    * list: a hub of degree d sits on the LOW side of at most O(√m)
    * oriented edges, so wedge volume is O(m^{3/2}) worst-case instead of
    * Σd² — the skew guard is in the orientation itself, before any join
    * runs. All joins are equi-joins on node ids; per-node counts emerge
    * from one explode of each triangle's three corners. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // canonical undirected edge set (a < b), parallel edges collapsed.
    // (r14 note: pinning und/ori via localCheckpoint was tried and
    // measured slightly SLOWER at bench scale — the duplicated sibling
    // subtrees all live inside ONE job, where their identical exchanges
    // run concurrently across idle cores; the pins serialized them into
    // dependent jobs for no net work saved.)
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orient: lower (degree, id) endpoint first
    val ori = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db")
            || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("lo"), col("b").as("hi")))
          .otherwise(struct(col("b").as("lo"), col("a").as("hi")))
          .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
    // adjacency-array intersection (guide §2.3/§3 — r14 opt): attach
    // N+(lo) and N+(hi) to every oriented edge and intersect locally.
    // A triangle with oriented edges u→v, u→w, v→w surfaces exactly
    // once, at edge (u,v) with w ∈ N+(u) ∩ N+(v) (at (u,w) it would
    // need w→v, at (v,w) it would need v→u — both excluded by the
    // orientation), so the count per node is identical to the former
    // wedge⋈closing-edge formulation. What changes is the heavy
    // volume: the O(wedge)-row stream used to be materialized AND
    // shuffled+sorted into a SortMergeJoin against the edge set;
    // now the only wedge-sized traffic is the nu arrays riding the
    // by-hi exchange — one array per edge instead of one row per
    // wedge, and no join over the wedge stream at all.
    val adj = ori.groupBy(col("lo")).agg(collect_list(col("hi")).as("ns"))
    val tri = ori
      .join(adj.select(col("lo"), col("ns").as("nu")), Seq("lo"))
      .join(adj.select(col("lo").as("hi"), col("ns").as("nv")), Seq("hi"))
      .select(col("lo"), col("hi"),
        array_intersect(col("nu"), col("nv")).as("ws"))
      .where(size(col("ws")) > 0)
    tri.select(explode(concat(col("ws"),
        array_repeat(col("lo"), size(col("ws"))),
        array_repeat(col("hi"), size(col("ws"))))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  // ---------------------------------------------------------------------
  // q140_triangle_count — per-node triangle counts over the co-purchase
  // part graph (parts sharing an order), top-20 by count. The clustering
  // -coefficient numerator — the cohesion signal link-spam and
  // community detection both start from. The oracle replays the same
  // orientation in SQL, so a wedge-join bug (double count / missed
  // closing orientation) hash-fails.
  // ---------------------------------------------------------------------
  def q140TriangleCount(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val co = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey")
          && col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    val counts = triangleCounts(co)
    val top = counts
      .orderBy(col("n_triangles").desc, col("node").asc).limit(20)
    Similarity.rankBounded(top, "rnk",
        Seq(col("n_triangles").desc, col("node").asc))
      .select(col("rnk").cast("int").as("rnk"), col("node"),
        col("n_triangles"))
  }

  val q140TriangleCountSql: String =
    """WITH und AS (
      |  SELECT DISTINCT LEAST(x.l_partkey, y.l_partkey) AS a,
      |    GREATEST(x.l_partkey, y.l_partkey) AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey
      |   AND x.l_partkey < y.l_partkey),
      |deg AS (
      |  SELECT n, COUNT(*) AS d FROM (
      |    SELECT a AS n FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY n),
      |ori AS (
      |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
      |           THEN a ELSE b END AS lo,
      |         CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
      |           THEN b ELSE a END AS hi
      |  FROM und JOIN deg da ON und.a = da.n JOIN deg db ON und.b = db.n),
      |tri AS (
      |  SELECT e1.lo AS apex, e1.hi AS x, e2.hi AS y
      |  FROM ori e1 JOIN ori e2
      |    ON e1.lo = e2.lo AND e1.hi < e2.hi
      |  JOIN (SELECT LEAST(lo, hi) AS p, GREATEST(lo, hi) AS q
      |        FROM ori) c
      |    ON c.p = LEAST(e1.hi, e2.hi)
      |   AND c.q = GREATEST(e1.hi, e2.hi)),
      |per_node AS (
      |  SELECT node, COUNT(*) AS n_triangles FROM (
      |    SELECT apex AS node FROM tri
      |    UNION ALL SELECT x FROM tri
      |    UNION ALL SELECT y FROM tri)
      |  GROUP BY node)
      |SELECT CAST(rnk AS INT) AS rnk, node, n_triangles FROM (
      |  SELECT node, n_triangles,
      |    ROW_NUMBER() OVER (
      |      ORDER BY n_triangles DESC, node ASC) AS rnk
      |  FROM per_node)
      |WHERE rnk <= 20""".stripMargin

  /** HITS hubs & authorities (Kleinberg, JACM 1999) — the mutual-
    * reinforcement ranking PageRank doesn't give: a node is a good
    * AUTHORITY if good hubs point at it, a good HUB if it points at
    * good authorities. Kept UNNORMALIZED over a fixed iteration count,
    * which makes every score a pure int64 path count (hub⁰ = 1;
    * authᵏ = Σ_in hubᵏ⁻¹; hubᵏ = Σ_out authᵏ) — no per-iteration float
    * normalization fold to make engine-reproducible, and the RANKING is
    * identical to the normalized variant (normalization is a positive
    * scalar per iteration). Each half-iteration is one equi-join +
    * one groupBy — shuffle-on-key, never a cartesian; state is one row
    * per node. Int64 headroom: scores grow like (mean degree)^k — at
    * k = 2 that is deg² ≲ 10⁹ for million-degree hubs, far under 2⁶³;
    * deeper runs should renormalize (and accept float discipline). */
  def hits(edges: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val e = new Truncator(edges.sparkSession, checkpointDir)
      .pin(edges.select(col("src"), col("dst")).distinct())
    // auth¹ = in-degree (hub⁰ = 1). (r14: both consumers share one job —
    // exchange reuse already dedups; pinning measured slower.)
    val auth1 = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("a1"))
    // hub¹(u) = Σ_{u→v} auth¹(v)
    val hub1 = e.join(auth1.select(col("node").as("dst"), col("a1")), "dst")
      .groupBy(col("src").as("node")).agg(sum(col("a1")).as("h1"))
    // auth²(v) = Σ_{u→v} hub¹(u)
    val auth2 = e.join(hub1.select(col("node").as("src"), col("h1")), "src")
      .groupBy(col("dst").as("node")).agg(sum(col("h1")).as("a2"))
    auth2.join(auth1, Seq("node"), "left")
      .select(col("node"), coalesce(col("a1"), lit(0L)).as("auth1"),
        col("a2").as("auth2"))
  }

  // ---------------------------------------------------------------------
  // q180_hits — two-step authorities over the directed customer→supplier
  // purchase graph: suppliers whose customers also buy from many other
  // well-bought suppliers. Integer path-count evidence; top-20 by auth²
  // with node tie-break, oracle = the same two join-aggregate rounds.
  // ---------------------------------------------------------------------
  def q180Hits(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    val h = hits(edges)
    val top = h.orderBy(col("auth2").desc, col("node").asc).limit(20)
    Similarity.rankBounded(top, "rnk",
        Seq(col("auth2").desc, col("node").asc))
      .select(col("rnk").cast("int").as("rnk"), col("node"),
        col("auth1"), col("auth2"))
  }

  val q180HitsSql: String =
    """WITH e AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |    's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |a1 AS (SELECT dst AS node, COUNT(*) AS a1 FROM e GROUP BY dst),
      |h1 AS (
      |  SELECT e.src AS node, CAST(SUM(a1.a1) AS BIGINT) AS h1
      |  FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
      |a2 AS (
      |  SELECT e.dst AS node, CAST(SUM(h1.h1) AS BIGINT) AS a2
      |  FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst)
      |SELECT CAST(rnk AS INT) AS rnk, node, auth1, auth2 FROM (
      |  SELECT a2.node, COALESCE(a1.a1, 0) AS auth1, a2.a2 AS auth2,
      |    ROW_NUMBER() OVER (ORDER BY a2.a2 DESC, a2.node ASC) AS rnk
      |  FROM a2 LEFT JOIN a1 ON a2.node = a1.node)
      |WHERE rnk <= 20""".stripMargin

  /** Synchronous LABEL PROPAGATION community detection (Raghavan et al.
    * 2007), determinized: every round, each node adopts the most
    * frequent label among its neighbors (ties → smallest label; an
    * isolated node keeps its own), ALL nodes simultaneously — the
    * asynchronous variant converges faster but its result depends on
    * visit order, which a distributed engine must not. Fixed round
    * count, labels initialized to the node id.
    *
    * Scale shape per round: one equi-join (edges ⋈ labels on the
    * neighbor key) + one (node, label) count + one per-node argmax
    * window partitioned by node (bounded by the node's distinct
    * neighbor labels, never a global sort) — the Pregel step as
    * dataframes. Lineage is truncated per round (localCheckpoint, the
    * PageRank/Components discipline). */
  def labelPropagation(edges: DataFrame, rounds: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // both directions: neighbor lists are symmetric
    val tr = new Truncator(edges.sparkSession, checkpointDir)
    val e = tr.pin(
      und.unionAll(und.select(col("b").as("a"), col("a").as("b"))))
    val nodes = tr.pin(e.select(col("a").as("node")).distinct())
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val counts = e
        .join(labels.select(col("node").as("b"), col("label")), "b")
        .groupBy(col("a").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax as an AGGREGATE, not a window: min over (−c, label)
      // structs picks max count with ties to the smallest label —
      // identical to the former row_number()-over-(c desc, label asc)
      // pick — but it partial-aggregates map-side and replaces the
      // per-node sort + filter with a hash agg (guide §2.3: aggregate
      // before you shuffle; the window paid an extra sort of the
      // (node, label) count table every round)
      val next = counts
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("negc"), col("label"))).as("__m"))
        .select(col("node"), col("__m.label").as("label"))
      labels = tr.roll("labels", nodes.join(next, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("label"), col("node")).as("label")))
    }
    labels
  }

  // ---------------------------------------------------------------------
  // q183_label_prop — communities after 2 synchronous rounds over the
  // co-purchase part graph (the q140 edge set), reported as community
  // size histogram top-20 (label, n_members). The oracle replays both
  // rounds with mode-via-ROW_NUMBER CTEs — any tie-break or
  // simultaneity divergence (async adoption leaking a round) moves
  // members between communities and hash-fails.
  // ---------------------------------------------------------------------
  def q183LabelProp(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val co = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey")
          && col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    val labels = labelPropagation(co, rounds = 2)
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node"))
    val top = sizes
      .orderBy(col("n_members").desc, col("label").asc).limit(20)
    Similarity.rankBounded(top, "rnk",
        Seq(col("n_members").desc, col("label").asc))
      .select(col("rnk").cast("int").as("rnk"), col("label"),
        col("n_members"), col("min_node"))
  }

  val q183LabelPropSql: String =
    """WITH und AS (
      |  SELECT DISTINCT LEAST(x.l_partkey, y.l_partkey) AS a,
      |    GREATEST(x.l_partkey, y.l_partkey) AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |e AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
      |nodes AS (SELECT DISTINCT a AS node FROM e),
      |l0 AS (SELECT node, node AS label FROM nodes),
      |c1 AS (
      |  SELECT e.a AS node, l.label, COUNT(*) AS c
      |  FROM e JOIN l0 l ON e.b = l.node GROUP BY e.a, l.label),
      |p1 AS (
      |  SELECT node, label FROM (
      |    SELECT node, label,
      |      ROW_NUMBER() OVER (PARTITION BY node
      |        ORDER BY c DESC, label ASC) AS rn
      |    FROM c1) WHERE rn = 1),
      |l1 AS (
      |  SELECT n.node, COALESCE(p.label, n.node) AS label
      |  FROM nodes n LEFT JOIN p1 p ON n.node = p.node),
      |c2 AS (
      |  SELECT e.a AS node, l.label, COUNT(*) AS c
      |  FROM e JOIN l1 l ON e.b = l.node GROUP BY e.a, l.label),
      |p2 AS (
      |  SELECT node, label FROM (
      |    SELECT node, label,
      |      ROW_NUMBER() OVER (PARTITION BY node
      |        ORDER BY c DESC, label ASC) AS rn
      |    FROM c2) WHERE rn = 1),
      |l2 AS (
      |  SELECT n.node, COALESCE(p.label, n.node) AS label
      |  FROM nodes n LEFT JOIN p2 p ON n.node = p.node),
      |sizes AS (
      |  SELECT label, COUNT(*) AS n_members, MIN(node) AS min_node
      |  FROM l2 GROUP BY label)
      |SELECT CAST(rnk AS INT) AS rnk, label, n_members, min_node FROM (
      |  SELECT label, n_members, min_node,
      |    ROW_NUMBER() OVER (
      |      ORDER BY n_members DESC, label ASC) AS rnk
      |  FROM sizes)
      |WHERE rnk <= 20""".stripMargin

  /** DEGREE DISTRIBUTION + HILL tail-index estimate — the first
    * diagnostic run on any production graph: how heavy is the degree
    * tail (α̂ ≈ 2–3 for web/social graphs), which decides whether the
    * pipeline needs skew guards at all. Hill (1975) over the top-k
    * order statistics of the degree sequence:
    * α̂ = k / Σ_{i=1..k} ln(dᵢ/d₍ₖ₊₁₎), using the (k+1)-th largest
    * degree as the threshold. Degrees are two aggregations; the order
    * statistics come from ONE TakeOrdered of k+1 rows (never a global
    * sort); the ln fold is ordered (the q92 discipline). Emits the
    * top-of-distribution rows (degree, n_nodes) plus (k, d_threshold,
    * alpha) on each row for the one-result gate shape. */
  def degreeTail(edges: DataFrame, k: Int): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val topK1 = deg.orderBy(col("d").desc, col("n").asc).limit(k + 1)
      .select(col("d"), col("n"))
    val ranked = Similarity.rankBounded(topK1, "rnk",
      Seq(col("d").desc, col("n").asc))
    val thr = ranked.filter(col("rnk") === k + 1)
      .select(col("d").as("d_thr"))
    val hill = ranked.filter(col("rnk") <= k)
      .crossJoin(broadcast(thr))
      .select(struct(col("rnk"),
        log(col("d").cast("double") / col("d_thr").cast("double"))
          .as("t")).as("st"), col("d_thr"))
      .agg(array_sort(collect_list(col("st"))).as("__ts"),
        max(col("d_thr")).as("d_threshold"))
      // a uniform top-k (every degree equal to the threshold) has a
      // zero ln-sum — the tail index is undefined there, NULL not /0
      .withColumn("__lnsum", aggregate(col("__ts"), lit(0.0d),
        (acc, x) => acc + x.getField("t")))
      .select(col("d_threshold"),
        when(col("__lnsum") =!= 0.0,
          round(lit(k).cast("double") / col("__lnsum"), 6)).as("alpha"))
    val dist = deg.groupBy(col("d").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree").desc).limit(20)
    Similarity.rankBounded(dist, "rnk",
        Seq(col("degree").desc))
      .select(col("rnk").cast("int").as("rnk"), col("degree"),
        col("n_nodes"))
      .crossJoin(broadcast(hill.select(lit(k).as("k"), col("d_threshold"),
        col("alpha"))))
  }

  // ---------------------------------------------------------------------
  // q196_degree_tail — top of the co-purchase degree distribution with
  // the Hill tail index at k = 50. The oracle replays the order
  // statistics and the rank-ordered ln fold.
  // ---------------------------------------------------------------------
  def q196DegreeTail(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val co = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey")
          && col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    degreeTail(co, k = 50)
  }

  val q196DegreeTailSql: String =
    """WITH und AS (
      |  SELECT DISTINCT LEAST(x.l_partkey, y.l_partkey) AS a,
      |    GREATEST(x.l_partkey, y.l_partkey) AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |deg AS (
      |  SELECT n, COUNT(*) AS d FROM (
      |    SELECT a AS n FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY n),
      |ranked AS (
      |  SELECT d, n, ROW_NUMBER() OVER (ORDER BY d DESC, n ASC) AS rnk
      |  FROM deg),
      |thr AS (SELECT d AS d_thr FROM ranked WHERE rnk = 51),
      |hill AS (
      |  SELECT MAX(t.d_thr) AS d_threshold,
      |    ROUND(50.0 / list_reduce(list_prepend(0.0::DOUBLE,
      |      list(ln(CAST(r.d AS DOUBLE) / CAST(t.d_thr AS DOUBLE))
      |        ORDER BY r.rnk)), (a, b) -> a + b), 6) AS alpha
      |  FROM ranked r CROSS JOIN thr t WHERE r.rnk <= 50),
      |dist AS (
      |  SELECT d AS degree, COUNT(*) AS n_nodes FROM deg GROUP BY d),
      |topd AS (
      |  SELECT degree, n_nodes,
      |    ROW_NUMBER() OVER (ORDER BY degree DESC) AS rnk
      |  FROM dist)
      |SELECT CAST(t.rnk AS INT) AS rnk, t.degree, t.n_nodes,
      |  50 AS k, h.d_threshold, h.alpha
      |FROM topd t CROSS JOIN hill h WHERE t.rnk <= 20""".stripMargin

  /** DEGREE ASSORTATIVITY — Pearson correlation of endpoint degrees
    * over the undirected edge list (Newman 2002): positive = hubs link
    * hubs (social), negative = hubs link leaves (web/biology); the
    * one-number structure summary read next to [[degreeTail]]. Each
    * undirected edge contributes BOTH orientations (the standard
    * symmetrization), degrees are integers, and r comes from exact
    * decimal power sums in the q44 shape. Degenerate (regular) graphs
    * surface NULL. */
  def assortativity(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val pairs = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(col("da").cast("double").as("x"),
        col("db").cast("double").as("y"))
    val sym = pairs.unionAll(pairs.select(col("y").as("x"),
      col("x").as("y")))
    val g = sym.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x").cast(DecimalType(30, 4))).cast(DoubleType).as("sx"),
      sum(col("y").cast(DecimalType(30, 4))).cast(DoubleType).as("sy"),
      sum((col("x") * col("x")).cast(DecimalType(30, 4)))
        .cast(DoubleType).as("sxx"),
      sum((col("y") * col("y")).cast(DecimalType(30, 4)))
        .cast(DoubleType).as("syy"),
      sum((col("x") * col("y")).cast(DecimalType(30, 4)))
        .cast(DoubleType).as("sxy"))
    val den = sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
      sqrt(col("n") * col("syy") - col("sy") * col("sy"))
    g.select((col("n") / 2).cast("long").as("n_edges"),
      when(den =!= 0.0,
        round((col("n") * col("sxy") - col("sx") * col("sy")) / den, 6))
        .as("assortativity"))
  }

  // ---------------------------------------------------------------------
  // q220_assortativity — degree-degree correlation of the co-purchase
  // part graph. Exact decimal power sums; the oracle replays the
  // symmetrized edge list and the identical r expression.
  // ---------------------------------------------------------------------
  def q220Assortativity(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val co = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey")
          && col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    assortativity(co)
  }

  val q220AssortativitySql: String =
    """WITH und AS (
      |  SELECT DISTINCT LEAST(x.l_partkey, y.l_partkey) AS a,
      |    GREATEST(x.l_partkey, y.l_partkey) AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |deg AS (
      |  SELECT n, COUNT(*) AS d FROM (
      |    SELECT a AS n FROM und UNION ALL SELECT b FROM und) GROUP BY n),
      |pairs AS (
      |  SELECT CAST(da.d AS DOUBLE) AS x, CAST(db.d AS DOUBLE) AS y
      |  FROM und JOIN deg da ON und.a = da.n JOIN deg db ON und.b = db.n),
      |sym AS (SELECT x, y FROM pairs UNION ALL SELECT y, x FROM pairs),
      |g AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(30,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(30,4))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(30,4))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(30,4))) AS DOUBLE) AS sxy
      |  FROM sym)
      |SELECT CAST(n / 2 AS BIGINT) AS n_edges,
      |  CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)
      |        <> 0.0 THEN
      |    ROUND((n * sxy - sx * sy)
      |      / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
      |  END AS assortativity
      |FROM g""".stripMargin

  /** K-HOP REACHABILITY from a seed set — "how much of the graph sits
    * within k hops of these nodes": the blast-radius / influence-
    * frontier readout. Fixed k joins (each hop one equi-join +
    * distinct), frontier-only expansion (already-visited nodes are
    * anti-joined away before the next hop, so a dense core is not
    * re-expanded), per-hop first-reach counts. */
  def kHopReach(edges: DataFrame, seeds: DataFrame, k: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val tr = new Truncator(edges.sparkSession, checkpointDir)
    val e = tr.pin(
      und.unionAll(und.select(col("b").as("a"), col("a").as("b"))))
    var visited = tr.roll("visited",
      seeds.select(col("node"), lit(0).as("hop")).distinct())
    var frontier = visited.select(col("node"))
    for (h <- 1 to k) {
      val next = e.join(frontier.select(col("node").as("a")), "a")
        .select(col("b").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
      frontier = tr.roll("frontier", next)
      visited = tr.roll("visited", visited
        .unionByName(frontier.select(col("node"), lit(h).as("hop"))))
    }
    // every hop 0..k gets a row, EXHAUSTED FRONTIERS INCLUDED (count 0,
    // NULL min): an absent row and a zero row mean different things to
    // the blast-radius reader, and the declarative oracle's per-hop
    // aggregates emit the zero row — groupBy over visited alone would
    // drop it whenever the graph runs out before hop k (an SF-dependent
    // row-presence mismatch, caught at sf0.001)
    val hops = edges.sparkSession.range(0, k + 1L)
      .select(col("id").cast("int").as("hop"))
    visited.groupBy(col("hop"))
      .agg(count(lit(1)).as("n_first_reached"),
        min(col("node")).as("min_node"))
      .join(hops, Seq("hop"), "right")
      .select(col("hop"),
        coalesce(col("n_first_reached"), lit(0L)).as("n_first_reached"),
        col("min_node"))
  }

  // ---------------------------------------------------------------------
  // q221_khop_reach — first-reach counts per hop (0..2) from the
  // lowest-keyed 10 parts over the co-purchase graph. The oracle
  // expands both hops declaratively with anti-joined frontiers.
  // ---------------------------------------------------------------------
  def q221KhopReach(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val co = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey")
          && col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    val seeds = t(s, dir, "part").filter(col("p_partkey") <= 10)
      .select(col("p_partkey").as("node"))
    kHopReach(co, seeds, 2)
  }

  val q221KhopReachSql: String =
    """WITH und AS (
      |  SELECT DISTINCT LEAST(x.l_partkey, y.l_partkey) AS a,
      |    GREATEST(x.l_partkey, y.l_partkey) AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |e AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
      |h0 AS (SELECT p_partkey AS node FROM part WHERE p_partkey <= 10),
      |h1 AS (
      |  SELECT DISTINCT e.b AS node FROM e JOIN h0 ON e.a = h0.node
      |  WHERE e.b NOT IN (SELECT node FROM h0)),
      |h2 AS (
      |  SELECT DISTINCT e.b AS node FROM e JOIN h1 ON e.a = h1.node
      |  WHERE e.b NOT IN (SELECT node FROM h0)
      |    AND e.b NOT IN (SELECT node FROM h1))
      |SELECT 0 AS hop, COUNT(*) AS n_first_reached,
      |  MIN(node) AS min_node FROM h0
      |UNION ALL
      |SELECT 1, COUNT(*), MIN(node) FROM h1
      |UNION ALL
      |SELECT 2, COUNT(*), MIN(node) FROM h2""".stripMargin

  // ---------------------------------------------------------------------
  // q240_kcore — k-core decomposition by R rounds of synchronous peeling
  // (Seidman, Social Networks 1983; Batagelj-Zaveršnik's distributed
  // variant): repeatedly drop every node with degree < k and the edges
  // it carries. FIXED round count — the semantic is "the R-round peel",
  // deterministic and oracle-replicable; convergence is visible in the
  // output itself (trailing rounds with equal counts), never assumed.
  // Per round: one degree aggregate + two semi-joins — shuffle-on-node,
  // state one row per node, lineage truncated per round (the q122
  // localCheckpoint discipline) so the loop's plan does not grow.
  //
  // The gate emits the per-round (n_nodes, n_edges) TRAJECTORY — 8
  // integer rows that pin every intermediate edge set (a missed cascade
  // or an off-by-one round shifts some row), robust at every SF
  // including the ones where the core collapses to empty.
  // ---------------------------------------------------------------------
  /** Final surviving (node, deg) after `rounds` peels at threshold k. */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    val tr = new Truncator(edges.sparkSession, checkpointDir)
    var e = tr.roll("e", edges.select(col("a"), col("b")).distinct())
    var r = 0
    while (r < rounds) {
      val deg = e.select(col("a").as("n"))
        .unionByName(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("n"))
      e = tr.roll("e", e.join(keep, e("a") === keep("n"), "left_semi")
        .join(keep, e("b") === keep("n"), "left_semi"))
      r += 1
    }
    e.select(col("a").as("node")).unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }

  /** Per-round (round, n_nodes, n_edges) of the peel — the cascade
    * trajectory. Each round computes ONE degree aggregate that serves
    * both that round's stats (n_nodes = |deg|, n_edges = Σd/2 — the
    * handshake identity, so no separate distinct-count job) and the
    * NEXT round's peel threshold; per round that is one checkpointed
    * peel + one tiny stats head over the node table. */
  def kCoreTrajectory(edges: DataFrame, k: Int, rounds: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    def degreeOf(e: DataFrame): DataFrame =
      e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val tr = new Truncator(edges.sparkSession, checkpointDir)
    var e = tr.roll("e", edges.select(col("a"), col("b")).distinct())
    var deg = tr.roll("deg", degreeOf(e))
    val traj = (1 to rounds).map { r =>
      val keep = deg.filter(col("d") >= k).select(col("n"))
      e = tr.roll("e", e.join(keep, e("a") === keep("n"), "left_semi")
        .join(keep, e("b") === keep("n"), "left_semi"))
      // the round's stats ride the deg checkpoint as observed sidecar
      // aggregates (2 jobs/round instead of 3 — the separate stats
      // head over the checkpointed node table is gone)
      val (degC, stats) = rollObserved(tr, "deg", degreeOf(e),
        Seq(count(lit(1)).as("nn"),
          coalesce(sum(col("d")), lit(0L)).as("sd")))
      deg = degC
      (r, stats.getLong(0), stats.getLong(1) / 2)
    }
    val sp = edges.sparkSession
    import sp.implicits._
    traj.toDF("round", "n_nodes", "n_edges")
  }

  // shared by the gate AND its oracle generator — a desync would be a
  // silent gate failure, so there is exactly one definition
  private val KcoreK = 75
  private val KcoreRounds = 8

  def q240Kcore(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val co = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey")
          && col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
    kCoreTrajectory(co, k = KcoreK, rounds = KcoreRounds)
  }

  /** Unrolled-peel oracle: one MATERIALIZED stage pair (keep, edges)
    * per round — the q238 pattern; without MATERIALIZED DuckDB inlines
    * the chain and planning cost grows superlinearly in depth. */
  val q240KcoreSql: String = {
    val (k, rounds) = (KcoreK, KcoreRounds)
    val base =
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT LEAST(x.l_partkey, y.l_partkey) AS a,
        |    GREATEST(x.l_partkey, y.l_partkey) AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey
        |   AND x.l_partkey < y.l_partkey)""".stripMargin
    val stages = (1 to rounds).map { r =>
      s"""k$r AS MATERIALIZED (
         |  SELECT n FROM (
         |    SELECT n, COUNT(*) AS d FROM (
         |      SELECT a AS n FROM e${r - 1}
         |      UNION ALL SELECT b FROM e${r - 1})
         |    GROUP BY n)
         |  WHERE d >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${r - 1} e
         |  JOIN k$r ka ON e.a = ka.n
         |  JOIN k$r kb ON e.b = kb.n)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val rows = (1 to rounds).map { r =>
      s"""SELECT $r AS round,
         |  (SELECT COUNT(DISTINCT n) FROM (
         |     SELECT a AS n FROM e$r UNION ALL SELECT b FROM e$r))
         |    AS n_nodes,
         |  (SELECT COUNT(*) FROM e$r) AS n_edges""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "")
    base + stages + rows
  }
}
