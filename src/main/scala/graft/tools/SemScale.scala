package graft.tools

import graft.engine.Similarity
import org.apache.spark.sql.functions._

/** Dev evidence for the round-7 SemDeDup scale fix (the r6 64-cell
  * clamp): runs the FULL keep-list pipeline on a synthetic embedding
  * corpus far beyond the SF fixtures — `nVecs` deterministic
  * 64-dim noise vectors (pairwise cosine concentrates at 0 ± 1/√64,
  * so the 0.9 bar sits ~7σ out — no accidental edges), with every
  * 10th vector an EXACT copy of its predecessor (the planted dup at
  * cos = 1). At n = 100k the cell count is
  * ⌈√n⌉ = 317 — far past [[Similarity.literalArgminMaxK]], so every
  * assignment runs through the broadcast-centroid `NearestCentroid`
  * loop expression, exactly the path a 10⁹-doc corpus takes. Checks:
  * every planted duplicate is dropped (its mate survives), nothing
  * outside the planted set is dropped, and the realized max cell
  * stays within a small factor of √n. Generation is executor-side;
  * the driver never holds the corpus. Usage:
  *   sbt "runMain graft.tools.SemScale [nVecs]"   # default 100000
  *
  * Measured (local[32]): 100k vectors (50× the sf0.1 fixture) →
  * k=317 cells, all assignment through the expression path, 10k
  * planted dups all dropped, 0 spurious, max cell 424 ≈ 1.34·√n,
  * 12.7 s; 500k → k=708, max cell 892 ≈ 1.26·√n, 23.3 s; 1M (500×
  * the fixture) → k=1000, 100k dups all dropped, 0 spurious, max
  * cell 1282 ≈ 1.28·√n, 41.9 s. 10× the corpus costs 3.3× the wall —
  * the n^1.5 work curve flattened by parallel slack at this scale,
  * with every exactness check green at each point. */
object SemScale {
  private val dim = 64

  /** splitmix64 finalizer — a proper avalanche is load-bearing: a
    * plain linear hash decomposes into per-id + per-dimension parts,
    * leaving every vector the SAME shared pattern plus an offset
    * (pairwise cosine ≈ 1, observed). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic noise vector for id; ids with id % 10 == 9 copy
    * id−1's vector EXACTLY (cos = 1, and identical inputs give an
    * identical argmin, so the pair landing in one cell is
    * deterministic — a noisy copy could straddle a cell boundary and
    * flake the exact check). */
  private def vecOf(id0: Long): Array[Double] = {
    val id = if (id0 % 10 == 9) id0 - 1 else id0
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      v(i) = (mix((id << 8) | i) >>> 11).toDouble / (1L << 53) - 0.5
      i += 1
    }
    v
  }

  def main(args: Array[String]): Unit = {
    val nVecs = if (args.nonEmpty) args(0).toLong else 100000L
    val spark = graft.engine.Tables.builder("graft-sem-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpus = spark.sparkContext.defaultParallelism
    import spark.implicits._

    // quantized onto the production pipeline's 1e−6 lattice (the r17
    // integer-exact path): exact copies stay cos = 1 and noise pairs
    // stay ~0 — the planted contrast is quantization-invariant
    val e = spark.range(0L, nVecs, 1L, cpus).as[Long]
      .mapPartitions(_.map(id => (id,
        vecOf(id).map(x => math.rint(x * 1e6)).toSeq)))
      .toDF("vec_id", "v")

    val k = Similarity.semdedupCells(nVecs)
    val t0 = System.nanoTime()
    // fit once, reuse for both the keep-list and the cell-size audit
    val cent = Similarity.kmeansCentroidsQuantFrom(e, k, iters = 3)
    val kept = Similarity.semdedupKeepWithCentroids(e, tNum = 9, tDen = 10,
        cent)
      .as[Long].collect().toSet
    val secs = (System.nanoTime() - t0) / 1e9

    // planted: every id ≡ 9 (mod 10) duplicates id−1 → must drop,
    // with its mate surviving; all other drops are spurious
    // (cross-pair cosine ≈ 0 ± 1/√64 ≪ 0.9, so only planted pairs
    // qualify)
    var plantedDropped = 0L
    var mateMissing = 0L
    var spurious = 0L
    var id = 0L
    while (id < nVecs) {
      if (id % 10 == 9) {
        if (!kept(id)) plantedDropped += 1
        if (!kept(id - 1)) mateMissing += 1
      } else if ((id % 10 != 8 || id + 1 >= nVecs) && !kept(id)) {
        // ids ≡ 8 are audited as mates via the ≡ 9 branch — except a
        // TRAILING ≡ 8 with no partner in range, which must count as
        // spurious like any other unpaired id
        spurious += 1
      }
      id += 1
    }
    val planted = nVecs / 10
    val maxCell = e.select(Similarity.nearestCell(cent).as("cid"))
      .groupBy("cid").count().agg(max("count")).head().getLong(0)
    val ok = plantedDropped == planted && mateMissing == 0 &&
      spurious == 0 && maxCell <= 8 * math.sqrt(nVecs.toDouble).ceil.toLong
    println(f"SemScale nVecs=$nVecs k=$k planted=$planted " +
      f"dropped=$plantedDropped mateMissing=$mateMissing " +
      f"spurious=$spurious maxCell=$maxCell secs=$secs%.1f ok=$ok")
    if (!ok) sys.exit(1)
    spark.stop()
  }
}
