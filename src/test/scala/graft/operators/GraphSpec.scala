package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(es: (String, String)*) =
    es.toDF("src", "dst")

  test("symmetric pair splits rank evenly") {
    val r = Graph.pageRank(edges(("a", "b"), ("b", "a")), 3, 0.85)
      .as[(String, Double)].collect().toMap
    assert(math.abs(r("a") - 0.5) < 1e-12 && math.abs(r("b") - 0.5) < 1e-12)
  }

  test("path graph a-b-c after one iteration matches hand arithmetic") {
    val e = edges(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
    val r = Graph.pageRank(e, 1, 0.85).as[(String, Double)].collect().toMap
    val n = 3.0
    val tp = (1.0 - 0.85) / n
    // a and c receive b's rank/2; b receives a + c whole
    val expA = tp + 0.85 * ((1.0 / n) / 2.0)
    val expB = tp + 0.85 * (1.0 / n + 1.0 / n)
    assert(math.abs(r("a") - expA) < 1e-15, r("a"))
    assert(math.abs(r("c") - expA) < 1e-15)
    assert(math.abs(r("b") - expB) < 1e-15)
  }

  test("mass is conserved on a symmetric graph (sums to 1)") {
    val e = edges(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("c", "d"), ("d", "c"), ("a", "d"), ("d", "a"))
    val total = Graph.pageRank(e, 5, 0.85)
      .agg(sum(col("rank"))).as[Double].head()
    assert(math.abs(total - 1.0) < 1e-9, total)
  }

  test("ranks are partitioning-invariant bit-exact (ordered fold)") {
    val es = (1 to 60).map(i => (s"n${i % 12}", s"n${(i * 7) % 12}"))
      .filter { case (a, b) => a != b }
    val e1 = es.toDF("src", "dst")
    val e2 = es.reverse.toDF("src", "dst").repartition(13)
    val r1 = Graph.pageRank(e1, 3, 0.85).as[(String, Double)]
      .collect().toMap
    val r2 = Graph.pageRank(e2, 3, 0.85).as[(String, Double)]
      .collect().toMap
    assert(r1 === r2) // exact double equality, not approx
  }

  test("dangling node keeps the teleport term only") {
    // directed a -> b with no out-edge from b: b never contributes
    val r = Graph.pageRank(edges(("a", "b")), 2, 0.85)
      .as[(String, Double)].collect().toMap
    // 1 − d is exact decimal arithmetic, as in the SQL oracle: 0.15 / 2
    val tp = 0.15 / 2.0
    assert(r("a") === tp) // nothing points at a after iteration 1
  }

  private def tri(es: (Int, Int)*) =
    Graph.triangleCounts(es.toDF("src", "dst"))
      .as[(Int, Long)].collect().toMap

  test("triangle: K3 counts one triangle at every node") {
    assert(tri((1, 2), (2, 3), (1, 3)) == Map(1 -> 1L, 2 -> 1L, 3 -> 1L))
  }

  test("triangle: K4 has 4 triangles, 3 through each node") {
    val m = tri((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
    assert(m == Map(1 -> 3L, 2 -> 3L, 3 -> 3L, 4 -> 3L))
  }

  test("triangle: paths and stars have none; parallel/reversed edges collapse") {
    assert(tri((1, 2), (2, 3), (3, 4)).isEmpty)
    assert(tri((1, 2), (1, 3), (1, 4)).isEmpty)
    // duplicates, reversals, and a self-loop must not fabricate triangles
    assert(tri((1, 2), (2, 1), (2, 3), (1, 3), (1, 3), (1, 1))
      == Map(1 -> 1L, 2 -> 1L, 3 -> 1L))
  }

  test("triangle: two triangles sharing an edge") {
    // 1-2-3 and 2-3-4 share edge (2,3)
    val m = tri((1, 2), (1, 3), (2, 3), (2, 4), (3, 4))
    assert(m == Map(1 -> 1L, 2 -> 2L, 3 -> 2L, 4 -> 1L))
  }

  test("hits: hand-computed two-step authority scores on a tiny graph") {
    // hubs h1,h2 → authorities x,y; h1→x,y; h2→y
    val e = edges(("h1", "x"), ("h1", "y"), ("h2", "y"))
    val m = Graph.hits(e).as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // auth1: x=1, y=2. hub1: h1=1+2=3, h2=2.
    // auth2: x=h1=3, y=h1+h2=5.
    assert(m == Map("x" -> ((1L, 3L)), "y" -> ((2L, 5L))))
  }

  test("hits: parallel edges collapse; scores are partition-invariant") {
    val es = (1 to 40).map(i => (s"u${i % 5}", s"v${(i * 3) % 7}"))
    val a = Graph.hits(es.toDF("src", "dst"))
      .as[(String, Long, Long)].collect().toSet
    val b = Graph.hits((es ++ es).reverse.toDF("src", "dst").repartition(9))
      .as[(String, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("labelPropagation: two cliques joined by a bridge keep two communities") {
    // cliques {1,2,3} and {7,8,9} with bridge 3-7. Hand-traced three
    // synchronous rounds: clique one settles on label 1; clique two
    // settles on label 3 (the bridge leaks 3 into node 7's round-1
    // neighborhood, and min-ties then spread it) — TWO communities,
    // split exactly at the bridge.
    val e = Seq((1, 2), (1, 3), (2, 3), (7, 8), (7, 9), (8, 9), (3, 7))
      .toDF("src", "dst")
    val m = Graph.labelPropagation(e, 3).as[(Int, Int)].collect().toMap
    assert(m == Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 3, 8 -> 3, 9 -> 3), m)
  }

  test("labelPropagation: equal-count ties pick the SMALLEST label " +
      "(argmax-as-aggregate ≡ the former window pick)") {
    // node 5's neighbors {1, 9} carry one vote each after init —
    // a tie the r15 min(struct(-c, label)) aggregate must break to 1,
    // exactly as row_number over (c desc, label asc) did
    val e = Seq((5, 1), (5, 9)).toDF("src", "dst")
    val m = Graph.labelPropagation(e, 1).as[(Int, Int)].collect().toMap
    assert(m(5) == 1, s"tie must break to the smallest label: $m")
    // (a genuine majority overriding a smaller minority label needs a
    // second round — the two-clique test above pins that case)
    assert(m(1) == 5 && m(9) == 5)
  }

  test("labelPropagation: synchronous update — round 1 uses ONLY init labels") {
    // path 1-2-3: after one round every node adopts its smallest
    // neighbor's INIT label (2->1, 1->2, 3->2); an async sweep would
    // let 3 see 2's new label 1
    val e = Seq((1, 2), (2, 3)).toDF("src", "dst")
    val m = Graph.labelPropagation(e, 1).as[(Int, Int)].collect().toMap
    assert(m == Map(1 -> 2, 2 -> 1, 3 -> 2))
  }

  test("degreeTail: hand-computed Hill alpha on a star-plus-chain graph") {
    // hub 0 connects to 1..6 (deg 6); chain 1-2, 3-4 adds deg: nodes
    // 1..4 deg 2, nodes 5,6 deg 1
    val e = ((1 to 6).map(i => (0, i)) ++ Seq((1, 2), (3, 4)))
      .toDF("src", "dst")
    val r = Graph.degreeTail(e, k = 2).head()
    // degree order: 6, 2, 2, ... -> d_(3) = 2 (ties broken by node id)
    assert(r.getAs[Long]("d_threshold") == 2L)
    val exp = 2.0 / (math.log(6.0 / 2.0) + math.log(2.0 / 2.0))
    assert(math.abs(r.getAs[Double]("alpha")
      - math.rint(exp * 1e6) / 1e6) < 1e-9)
    // distribution rows carry (degree, n_nodes)
    val dist = Graph.degreeTail(e, k = 2).collect()
      .map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(dist == Map(6L -> 1L, 2L -> 4L, 1L -> 2L))
  }

  test("assortativity: a star is maximally disassortative; regular is NULL") {
    // star: hub degree 5, leaves 1 -> every edge pairs (5,1): r = -1
    val star = (1 to 5).map(i => (0, i)).toDF("src", "dst")
    val r = Graph.assortativity(star).head()
    assert(r.getAs[Long]("n_edges") == 5L)
    assert(r.getAs[Double]("assortativity") == -1.0)
    // 4-cycle: all degrees 2 -> zero variance -> NULL
    val cyc = Seq((1, 2), (2, 3), (3, 4), (4, 1)).toDF("src", "dst")
    val c = Graph.assortativity(cyc).head()
    assert(c.isNullAt(c.fieldIndex("assortativity")))
  }

  test("kHopReach: frontier counts on a path graph; visited never re-expands") {
    // path 1-2-3-4-5, seed {1}: hop0={1}, hop1={2}, hop2={3}
    val e = Seq((1, 2), (2, 3), (3, 4), (4, 5)).toDF("src", "dst")
    val seeds = Seq(1).toDF("node")
    val m = Graph.kHopReach(e, seeds, 2).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(m == Map(0 -> ((1L, 1)), 1 -> ((1L, 2)), 2 -> ((1L, 3))))
  }

  test("degreeTail: a regular graph has no defined tail index (NULL alpha)") {
    // 6-cycle: every degree 2 -> ln-sum over top-k is 0
    val e = (0 until 6).map(i => (i, (i + 1) % 6)).toDF("src", "dst")
    val r = Graph.degreeTail(e, k = 2).head()
    assert(r.isNullAt(r.fieldIndex("alpha")))
  }

  private def und(es: (Long, Long)*) = es.toDF("a", "b")

  test("kCore: a 2-core strips the tail but keeps the triangle") {
    // triangle 1-2-3 plus pendant edge 3-4: the 2-core is the triangle
    val e = und((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val got = Graph.kCore(e, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: cascading collapse — a path has no 2-core") {
    // 1-2-3-4: round 1 drops the endpoints, round 2 drops the rest
    val e = und((1L, 2L), (2L, 3L), (3L, 4L))
    assert(Graph.kCore(e, k = 2, rounds = 3).count() == 0L)
    val traj = Graph.kCoreTrajectory(e, k = 2, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toList
    assert(traj == List((1, 2L, 1L), (2, 0L, 0L), (3, 0L, 0L)))
  }

  test("kCore property: equals a local reference peel on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
      .map(_.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct)
    val prop = Prop.forAll(edgeGen, Gen.choose(2, 4)) { (es, k) =>
      es.isEmpty || {
        // local peel: R synchronous rounds
        var cur = es.toSet
        for (_ <- 1 to 5) {
          val deg = cur.toList.flatMap(e => List(e._1, e._2))
            .groupBy(identity).view.mapValues(_.size).toMap
          cur = cur.filter(e => deg(e._1) >= k && deg(e._2) >= k)
        }
        val expect = cur.toList.flatMap(e => List(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val got = Graph.kCore(es.toDF("a", "b"), k, rounds = 5)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == expect
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("kCore: converged trajectory repeats its fixed point") {
    val e = und((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val traj = Graph.kCoreTrajectory(e, k = 2, rounds = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toList
    assert(traj == List((1, 3L, 3L), (2, 3L, 3L), (3, 3L, 3L), (4, 3L, 3L)))
  }

  test("reliable checkpointing (checkpointDir) is BIT-IDENTICAL to the " +
      "localCheckpoint path and actually lands checkpoint files") {
    // the cluster-scale variant: per-round state on the (shared) FS
    // survives executor loss; semantics must not move at all
    val dir = java.nio.file.Files.createTempDirectory("graph_ckpt")
      .toString
    val e = und((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (2L, 4L))
    val trajL = Graph.kCoreTrajectory(e, k = 2, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toList
    val trajR = Graph.kCoreTrajectory(e, k = 2, rounds = 3, Some(dir))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toList
    assert(trajL == trajR, "kCore trajectory moved under reliable mode")
    val pr = edges(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
    val rL = Graph.pageRank(pr, 3, 0.85)
      .as[(String, Double)].collect().toMap
    val rR = Graph.pageRank(pr, 3, 0.85, Some(dir))
      .as[(String, Double)].collect().toMap
    assert(rL == rR, "pageRank must be bit-identical under reliable mode")
    val cc = Components.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"),
      checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L))
    // reliable mode really wrote to the FS (the whole point)
    def anyFile(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(dir)),
      "no checkpoint files landed under checkpointDir")
  }

  test("reliable checkpoint lifecycle is bounded: superseded per-round " +
      "state is deleted; a long run holds pins + last state, not one " +
      "copy per round") {
    val dir = java.nio.file.Files.createTempDirectory("graph_ckpt_gc")
      .toString
    val pr = edges(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("c", "a"))
    val ranks = Graph.pageRank(pr, iters = 8, 0.85, Some(dir))
    assert(ranks.count() == 3L)
    def rddDirs(f: java.io.File): Seq[String] =
      if (f.isDirectory) {
        val here = if (f.getName.startsWith("rdd-")) Seq(f.getPath)
          else Seq.empty
        here ++ Option(f.listFiles).toSeq.flatten.flatMap(rddDirs)
      } else Seq.empty
    val kept = rddDirs(new java.io.File(dir))
    // pins (edges, outdegree, nodes) + the final ranks state = 4;
    // one-per-round leakage would leave 11
    assert(kept.size <= 4,
      s"superseded checkpoints leaked: ${kept.size} rdd dirs ($kept)")
    assert(kept.nonEmpty, "reliable mode must keep the live state")
  }
}
