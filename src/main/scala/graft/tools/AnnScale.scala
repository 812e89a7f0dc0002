package graft.tools

import graft.engine.Similarity
import org.apache.spark.sql.functions._

/** Scale evidence for the round-8 n-derived ANN index granularity
  * (the r7 `weak`): builds BOTH index structures over a synthetic
  * corpus far beyond the SF fixtures and audits the properties that
  * make them indexes rather than constant-factor scans —
  *
  *  - IVF: k = ⌈√n⌉ cells (1000 at n = 1M, ~62× past
  *    [[Similarity.literalArgminMaxK]], so every assignment runs the
  *    loop-codegen `TopCells` path a 10⁹-vector corpus would take);
  *    checks cell-size balance (max/√n) and the per-query candidate
  *    fraction at nprobe = 2 — must be ≪ the 2/16 = 12.5% a fixed
  *    16-cell quantizer would drag in.
  *  - LSH: bits = [[Similarity.lshBits]](n) (16 at 1M → 65k buckets/
  *    table); checks mean bucket occupancy ≈ targetBucket and the
  *    multi-probe candidate fraction per query. The same two numbers
  *    are the scale evidence for the ANN near-dup band join
  *    ([[Similarity.qEmbedNearDupAnn]], r12): its candidate pairs per
  *    vector ARE the multi-probe fan's bucket mates (same
  *    bucketed ⋈ probe-fanned-bucketed dataflow), so per-vector
  *    candidate volume is the measured ~0.35% of the corpus — vs the
  *    50% an all-pairs join scores — and the planted near-copies
  *    (cos ≈ 0.995, the production near-dup regime) co-bucket within
  *    one probe 100/100.
  *
  * Generation is executor-side (same splitmix64 noise as
  * [[SemScale]] — avalanche is load-bearing); the driver holds only
  * the ⌈√n⌉ quantizer. Usage:
  *   sbt "runMain graft.tools.AnnScale [nVecs]"   # default 1000000
  *
  * Measured (local[32], n = 1M, round-12 run): IVF first-k quantizer
  * k=1000, quantize+assign 5.0 s, max cell 4.26·√n, avg
  * candidates/query 2261 = 0.226% of the corpus (a fixed 16-cell
  * quantizer would probe 12.5%), planted-neighbor candidate recall
  * 100/100; IVF-KM (the Lloyd-fitted `qAnnIvfKm` quantizer, 3
  * iterations over the [[Similarity.kmeansFitSample]] 128-per-
  * centroid hash sample) max cell 1.20·√n, 0.202% probed, fit+assign
  * 13.5 s (41.7 s when fit on the full corpus, for 1.16·√n and
  * 100/100 — the sampled codebook trades 4 boundary pairs of 100
  * planted for the 3× fit cut, identically at 64 and 128 per
  * centroid) — what fitting buys back from first-k's skew; LSH
  * bits=16 at the shipped 8 tables, index 8.1 s (278 s before the
  * [[graft.functions.HyperplaneSig]] loop expression — the 1024
  * inlined literal doubles per table degraded codegen), mean bucket
  * 15.6 ≈ the 16 target, multi-probe candidates/query 3501 = 0.350%,
  * planted recall 100/100. Probe fractions SHRINK as n grows while
  * the planted near-neighbors stay retrievable — the index property
  * the fixture constants lacked. */
object AnnScale {
  private val dim = 64

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic noise vector; ids ≡ 9 (mod 10) are a NEAR-copy of
    * their predecessor (small perturbation, cos ≈ 0.995) — the
    * planted neighbor whose retrievability the candidate-recall audit
    * measures. Uniform noise has no real neighbor structure, so
    * planted pairs are the only meaningful recall signal at scale. */
  private def vecOf(id0: Long): Array[Double] = {
    val planted = id0 % 10 == 9
    val id = if (planted) id0 - 1 else id0
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      v(i) = (mix((id << 8) | i) >>> 11).toDouble / (1L << 53) - 0.5
      if (planted)
        v(i) += ((mix((id0 << 8) | (i + 7)) >>> 11).toDouble / (1L << 53)
          - 0.5) * 0.1
      i += 1
    }
    v
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    val nQueries = 100
    val spark = graft.engine.Tables.builder("graft-ann-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpus = spark.sparkContext.defaultParallelism
    import spark.implicits._

    val e = spark.range(0L, n, 1L, cpus).as[Long]
      .mapPartitions(_.map(id => (id, vecOf(id).toSeq)))
      .toDF("vec_id", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()

    // ---- IVF: ⌈√n⌉ cells through the TopCells loop-codegen path
    val k = Similarity.ivfCells(n)
    require(k > Similarity.literalArgminMaxK,
      "scale run must exercise the expression path")
    var t0 = System.nanoTime()
    val cent = e.filter(col("vec_id") < k).orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq)).toIndexedSeq
    val assigned = e.select(col("vec_id"), col("v"),
        Similarity.ivfCellCol(cent).as("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cellSizes = assigned.groupBy("cid").count()
      .select(col("count")).as[Long].collect()
    val ivfSecs = (System.nanoTime() - t0) / 1e9
    val maxCell = cellSizes.max
    // candidate volume: Σ probed-cell sizes over nQueries queries
    t0 = System.nanoTime()
    val probes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"),
        explode(Similarity.ivfProbeCol(cent, nprobe = 2)).as("cid"))
    val ivfCand = probes.join(assigned, "cid").count()
    val ivfProbeSecs = (System.nanoTime() - t0) / 1e9
    // candidate recall of the planted neighbors: does the near-copy's
    // mate land in the probed cells? Query window and denominator
    // both scale with n (ids ≡ 9 mod 10 below the cap — exactly
    // cap/10 queries), so small CLI corpora report true fractions
    val plantedCap = math.min(n, 10L * nQueries)
    val nPlanted = (plantedCap / 10).toDouble
    val pProbes = assigned
      .filter(col("vec_id") % 10 === 9 && col("vec_id") < plantedCap)
      .select(col("vec_id").as("qid"),
        explode(Similarity.ivfProbeCol(cent, nprobe = 2)).as("cid"))
    val ivfHits = pProbes
      .join(assigned.select(col("vec_id").as("nid"), col("cid")), "cid")
      .filter(col("nid") === col("qid") - 1)
      .select("qid").distinct().count()
    val sqrtN = math.sqrt(n.toDouble)
    println(f"AnnScale IVF n=$n k=$k cells=${cellSizes.length} " +
      f"maxCell=$maxCell (${maxCell / sqrtN}%.2f·sqrt(n)) " +
      f"candPerQuery=${ivfCand / nQueries} " +
      f"(${100.0 * ivfCand / nQueries / n}%.3f%% of corpus) " +
      f"plantedRecall=${ivfHits / nPlanted}%.2f " +
      f"fitAssign=$ivfSecs%.1fs probe=$ivfProbeSecs%.1fs")

    // ---- IVF-PQ: the same cells, corpus stored as m int codes
    // (Similarity.pqCodesCol through the NearestCentroid loop path).
    // Two numbers make it evidence: the PARQUET-LAYER compression of
    // the serving frame vs the raw vectors, and the planted-neighbor
    // recall THROUGH the ADC+shortlist stages (candidate probe →
    // code-only ADC rank → top-[[Similarity.pqShortlist]]) — the
    // stages where PQ could lose what IVF found.
    t0 = System.nanoTime()
    // the shipped r17 lattice fit/encode (see qAnnPq)
    val quantPq = (c: org.apache.spark.sql.Column) =>
      transform(c, x => round(x * Similarity.kmeansQuantUnit))
    val books = Similarity.pqCodebooksQuantFrom(
      Similarity.kmeansFitSample(
        e.select(col("vec_id"), quantPq(col("v")).as("v")),
        Similarity.pqCodebookSize, n), iters = 3)
    val pqCodes = assigned.select(col("vec_id"), col("cid"),
        Similarity.pqCodesCol(books, forceExpr = true,
          v = quantPq(col("v"))).as("codes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pqCodes.count()
    val pqFitSecs = (System.nanoTime() - t0) / 1e9
    val tmpDir = java.nio.file.Files.createTempDirectory("pqsize")
    def dirBytes(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
    e.write.mode("overwrite").parquet(s"$tmpDir/raw")
    pqCodes.drop("cid").write.mode("overwrite").parquet(s"$tmpDir/pq")
    val rawBytes = dirBytes(java.nio.file.Paths.get(s"$tmpDir/raw"))
    val pqBytes = dirBytes(java.nio.file.Paths.get(s"$tmpDir/pq"))
    t0 = System.nanoTime()
    val qvecRows = e
      .filter(col("vec_id") % 10 === 9 && col("vec_id") < plantedCap)
      .collect().toSeq
    def quantSeq(v: Seq[Double]): Seq[Double] = v.map(x =>
      BigDecimal(x * Similarity.kmeansQuantUnit)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val luts = qvecRows.map { r =>
      val qid = r.getLong(0)
      val qv = quantSeq(r.getSeq[Double](1))
      (qid, (0 until Similarity.pqSubspaces).map { j =>
        books(j).map { cw =>
          var s = 0.0; var i = 0
          while (i < Similarity.pqSubDim) {
            val d = qv(j * Similarity.pqSubDim + i) - cw(i)
            s += d * d; i += 1
          }
          s
        }.toSeq
      }.toSeq)
    }
    val lutDf = luts.toDF("qid", "lut")
    val pqProbes = e
      .filter(col("vec_id") % 10 === 9 && col("vec_id") < plantedCap)
      .select(col("vec_id").as("qid"),
        explode(Similarity.ivfProbeCol(cent, nprobe = 2)).as("cid"))
      .join(lutDf, "qid")
    val pqCand = broadcast(pqProbes).join(pqCodes, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        Similarity.adcCol(col("codes"), col("lut")).as("adc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    val pqHits = pqCand
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Similarity.pqShortlist &&
        col("nid") === col("qid") - 1)
      .select("qid").distinct().count()
    val pqProbeSecs = (System.nanoTime() - t0) / 1e9
    println(f"AnnScale IVF-PQ n=$n m=${Similarity.pqSubspaces} " +
      f"ks=${Similarity.pqCodebookSize} " +
      f"rawBytes=$rawBytes pqBytes=$pqBytes " +
      f"compression=${rawBytes.toDouble / pqBytes}%.1fx " +
      f"plantedRecall@${Similarity.pqShortlist}=" +
      f"${pqHits / nPlanted}%.2f " +
      f"fitEncode=$pqFitSecs%.1fs adcProbe=$pqProbeSecs%.1fs")
    pqCodes.unpersist()

    // ---- the PRODUCTION PQ config: ks = 256 (one exact byte per
    // code — Jégou's standard setting); every per-subspace argmin now
    // routes through the NearestCentroid loop expression (256 ≫
    // literalArgminMaxK), the path a real deployment always takes.
    // Measures the fit/encode cost of the 16× larger codebook and the
    // parquet size of the wider code dictionary.
    val ks256 = 256
    t0 = System.nanoTime()
    val books256 = Similarity.pqCodebooksQuantFrom(
      Similarity.kmeansFitSample(
        e.select(col("vec_id"), quantPq(col("v")).as("v")),
        ks256, n), iters = 3, ks = ks256)
    val pq256 = assigned.select(col("vec_id"), col("cid"),
        Similarity.pqCodesCol(books256, forceExpr = true,
          v = quantPq(col("v"))).as("codes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pq256.count()
    val pq256FitSecs = (System.nanoTime() - t0) / 1e9
    pq256.drop("cid").write.mode("overwrite").parquet(s"$tmpDir/pq256")
    val pq256Bytes = dirBytes(java.nio.file.Paths.get(s"$tmpDir/pq256"))
    t0 = System.nanoTime()
    val luts256 = qvecRows.map { r =>
      val qid = r.getLong(0)
      val qv = quantSeq(r.getSeq[Double](1))
      (qid, (0 until Similarity.pqSubspaces).map { j =>
        books256(j).map { cw =>
          var s = 0.0; var i = 0
          while (i < Similarity.pqSubDim) {
            val d = qv(j * Similarity.pqSubDim + i) - cw(i)
            s += d * d; i += 1
          }
          s
        }.toSeq
      }.toSeq)
    }
    val lutDf256 = luts256.toDF("qid", "lut")
    val pqProbes256 = e
      .filter(col("vec_id") % 10 === 9 && col("vec_id") < plantedCap)
      .select(col("vec_id").as("qid"),
        explode(Similarity.ivfProbeCol(cent, nprobe = 2)).as("cid"))
      .join(lutDf256, "qid")
    val pqCand256 = broadcast(pqProbes256).join(pq256, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        Similarity.adcCol(col("codes"), col("lut")).as("adc"))
    val pqHits256 = pqCand256
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Similarity.pqShortlist &&
        col("nid") === col("qid") - 1)
      .select("qid").distinct().count()
    val pq256ProbeSecs = (System.nanoTime() - t0) / 1e9
    println(f"AnnScale IVF-PQ256 n=$n m=${Similarity.pqSubspaces} " +
      f"ks=$ks256 pqBytes=$pq256Bytes " +
      f"compression=${rawBytes.toDouble / pq256Bytes}%.1fx " +
      f"plantedRecall@${Similarity.pqShortlist}=" +
      f"${pqHits256 / nPlanted}%.2f " +
      f"fitEncode=$pq256FitSecs%.1fs adcProbe=$pq256ProbeSecs%.1fs")
    pq256.unpersist()
    assigned.unpersist()

    // ---- IVF-KM: the same ⌈√n⌉ cells LLOYD-FITTED (the shipped
    // qAnnIvfKm quantizer — the r17 INTEGER Lloyd on the 1e−6
    // lattice, 3 iterations, L2 assignment via the augmentCentroids
    // reduction through the same TopCells path). The first-k audit
    // above measures the oracle quantizer's skew; this one measures
    // what fitting buys back.
    t0 = System.nanoTime()
    val quant = (c: org.apache.spark.sql.Column) =>
      transform(c, x => round(x * Similarity.kmeansQuantUnit))
    val centKm = Similarity.augmentCentroids(
      Similarity.kmeansCentroidsQuantFrom(
        Similarity.kmeansFitSample(
          e.select(col("vec_id"), quant(col("v")).as("v")), k, n),
        k, iters = 3))
    val va = Similarity.augmentVec(quant(col("v")))
    val assignedKm = e.select(col("vec_id"), col("v"),
        Similarity.ivfCellCol(centKm, v = va).as("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cellSizesKm = assignedKm.groupBy("cid").count()
      .select(col("count")).as[Long].collect()
    val ivfKmSecs = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val probesKm = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"),
        explode(Similarity.ivfProbeCol(centKm, nprobe = 2, v = va))
          .as("cid"))
    val ivfKmCand = probesKm.join(assignedKm, "cid").count()
    val ivfKmProbeSecs = (System.nanoTime() - t0) / 1e9
    val pProbesKm = assignedKm
      .filter(col("vec_id") % 10 === 9 && col("vec_id") < plantedCap)
      .select(col("vec_id").as("qid"),
        explode(Similarity.ivfProbeCol(centKm, nprobe = 2, v = va))
          .as("cid"))
    val ivfKmHits = pProbesKm
      .join(assignedKm.select(col("vec_id").as("nid"), col("cid")), "cid")
      .filter(col("nid") === col("qid") - 1)
      .select("qid").distinct().count()
    println(f"AnnScale IVF-KM n=$n k=$k cells=${cellSizesKm.length} " +
      f"maxCell=${cellSizesKm.max} (${cellSizesKm.max / sqrtN}%.2f·sqrt(n)) " +
      f"candPerQuery=${ivfKmCand / nQueries} " +
      f"(${100.0 * ivfKmCand / nQueries / n}%.3f%% of corpus) " +
      f"plantedRecall=${ivfKmHits / nPlanted}%.2f " +
      f"fitAssign=$ivfKmSecs%.1fs probe=$ivfKmProbeSecs%.1fs")
    assignedKm.unpersist()

    // ---- LSH: n-derived width, shared table count, Hamming-1
    // multi-probe — the knobs are the SHIPPED ones (Similarity.lshTables
    // / lshProbeFan), so the measured probe fraction is the real fan
    val bits = Similarity.lshBits(n)
    val tables = Similarity.lshTables
    t0 = System.nanoTime()
    val sigArr = array((0 until tables).map { t =>
      Similarity.lshSignature(col("v"), bits, dim,
        firstPlane = t * Similarity.lshPlaneStride)
    }: _*)
    val bucketed = e.select(col("vec_id"),
        posexplode(sigArr).as(Seq("tbl", "sig")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val occ = bucketed.groupBy("tbl", "sig").count()
      .agg(avg("count"), max("count")).head()
    val lshSecs = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val probeFan = Similarity.lshProbeFan(bits)
    val q = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("tbl"),
        explode(probeFan).as("sig"))
    val lshCand = bucketed.join(q, Seq("tbl", "sig"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct().count()
    val lshProbeSecs = (System.nanoTime() - t0) / 1e9
    // planted-neighbor candidate recall through the multi-probe fan
    // (same n-scaled query window/denominator as the IVF audit)
    val pq = bucketed
      .filter(col("vec_id") % 10 === 9 && col("vec_id") < plantedCap)
      .select(col("vec_id").as("qid"), col("tbl"),
        explode(probeFan).as("sig"))
    val lshHits = bucketed.join(pq, Seq("tbl", "sig"))
      .filter(col("vec_id") === col("qid") - 1)
      .select("qid").distinct().count()
    println(f"AnnScale LSH n=$n bits=$bits tables=$tables " +
      f"meanBucket=${occ.getDouble(0)}%.1f maxBucket=${occ.getLong(1)} " +
      f"candPerQuery=${lshCand / nQueries} " +
      f"(${100.0 * lshCand / nQueries / n}%.3f%% of corpus) " +
      f"plantedRecall=${lshHits / nPlanted}%.2f " +
      f"index=$lshSecs%.1fs probe=$lshProbeSecs%.1fs")

    spark.stop()
  }
}
