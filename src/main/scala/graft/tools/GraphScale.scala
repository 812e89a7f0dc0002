package graft.tools

import graft.engine.Dedup
import org.apache.spark.sql.functions._

/** Dev evidence for the triangle-counting scale shape beyond the
  * fixture's pairs-sized graph: a synthetic corpus of `nBlocks`
  * disjoint 4-cliques (6 edges, 4 triangles each) plus an equally
  * long chain (edges, no triangles) — the near-dup topology the
  * operator exists for (dense duplicate clusters + borderline
  * chains), with the triangle count known in CLOSED FORM:
  * 4·nBlocks, and per-node counts 3 for clique members, 0 for chain
  * nodes. Generation is executor-side; edges arrive canonical
  * (ida < idb) as [[Dedup.triangleCounts]] requires. Usage:
  *   sbt "runMain graft.tools.GraphScale [nBlocks]"  # default 100000
  *
  * nBlocks=100000 → 1.2M edges (600k clique + 600k chain): the
  * wedge join's fan stays Θ(triangles) on this clustered shape —
  * the claim the operator scaladoc makes for near-dup graphs. */
object GraphScale {

  def main(args: Array[String]): Unit = {
    val nBlocks = if (args.nonEmpty) args(0).toInt else 100000
    val spark = graft.engine.Tables.builder("graft-graph-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val t0 = System.nanoTime()
    // clique b occupies ids [4b, 4b+3]; the chain lives above at
    // offset base = 4*nBlocks, one edge per step
    val base = 4L * nBlocks
    val cliqueEdges = spark.range(nBlocks).flatMap { b =>
      val ids = (0 to 3).map(4L * b + _)
      for (i <- ids.indices; j <- (i + 1) until ids.size)
        yield (ids(i), ids(j))
    }
    val chainEdges = spark.range(6L * nBlocks)
      .map(i => (base + i, base + i + 1))
    val edges = cliqueEdges.union(chainEdges).toDF("ida", "idb")
    val tri = Dedup.triangleCounts(edges).cache()
    val nodes = tri.count()
    val total = tri.agg(sum(col("n_tri"))).as[Long].head()
    val wall = (System.nanoTime() - t0) / 1e9
    val nEdges = 6L * nBlocks + 6L * nBlocks
    println(f"blocks=$nBlocks edges=$nEdges tri_nodes=$nodes " +
      f"tri_participations=$total wall=$wall%.1f s")
    // closed form: every clique node sits in C(3,2)=3 triangles;
    // 4 nodes/clique; total participations = 12*nBlocks (= 3 per
    // triangle * 4*nBlocks triangles); chain contributes zero
    assert(nodes == 4L * nBlocks, s"nodes $nodes != ${4L * nBlocks}")
    assert(total == 12L * nBlocks, s"total $total != ${12L * nBlocks}")

    // ---- the degree-orientation twin on the SAME clustered graph:
    // counts must be identical (orientation invariance), cost ~same
    val t1 = System.nanoTime()
    val triDeg = Dedup.triangleCountsDeg(edges).cache()
    val nodesDeg = triDeg.count()
    val totalDeg = triDeg.agg(sum(col("n_tri"))).as[Long].head()
    val wallDeg = (System.nanoTime() - t1) / 1e9
    println(f"deg-oriented: tri_nodes=$nodesDeg " +
      f"tri_participations=$totalDeg wall=$wallDeg%.1f s")
    assert(nodesDeg == nodes && totalDeg == total,
      "orientation changed the counts")

    // ---- skewed star: a MID-ID hub with nStar spokes half below,
    // half above its id, plus a sorted-consecutive spoke ring (one
    // triangle per ring edge). The id orientation pays
    // indeg(hub)·outdeg(hub) = (nStar/2)² wedges at the hub; the
    // degree orientation points every star edge INTO the hub
    // (outdeg 0) and pays ~nStar. Same closed-form counts from both.
    val nStar = if (args.length > 1) args(1).toInt else 20000
    val hub = nStar / 2L
    val spokes = (0L to nStar.toLong).filter(_ != hub)
    val starEdges = spark.createDataset(
        spokes.map(s => (math.min(s, hub), math.max(s, hub))) ++
        spokes.zip(spokes.tail))
      .toDF("ida", "idb")
    val expTri = spokes.length - 1L
    def runStar(name: String,
        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Unit = {
      val t = System.nanoTime()
      val r = f(starEdges).cache()
      val tot = r.agg(sum(col("n_tri"))).as[Long].head()
      val hubTri = r.filter(col("doc_id") === hub)
        .agg(sum(col("n_tri"))).as[Long].head()
      val w = (System.nanoTime() - t) / 1e9
      println(f"star[$name]: nStar=$nStar triangles=${tot / 3} " +
        f"hubTri=$hubTri wall=$w%.1f s")
      assert(tot == 3L * expTri, s"star $name: $tot != ${3L * expTri}")
      assert(hubTri == expTri, s"star $name hub: $hubTri != $expTri")
      r.unpersist()
    }
    runStar("id-oriented", Dedup.triangleCounts)
    runStar("deg-oriented", Dedup.triangleCountsDeg)
    spark.stop()
  }
}
