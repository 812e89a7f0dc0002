package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The session working-set memo's eviction CONTRACT
  * ([[Dedup.memoizedPersisted]]): the LRU bound is sized for two
  * concurrent sfDirs' full working sets (cap/2 keys each — the
  * inventory is enumerated at the cap's declaration); this spec
  * guards the policy for whoever adds a working set or a 3rd
  * concurrent dir. Written against [[Dedup.sigSetMemoCap]] itself so
  * a resize keeps the contract checked, not the constants. Plus the
  * staleness rule every file-derived memo shares ([[Tables.fileId]]):
  * rows appended within a session are never served stale. */
class MemoPolicySpec extends SparkSpec {
  import spark.implicits._

  private val cap = Dedup.sigSetMemoCap

  private def ws(tag: String) =
    Dedup.memoizedPersisted(spark, s"memopolicy|$tag")(
      Seq((tag, 1L)).toDF("k", "n"))

  test("eviction unpersists: cycling past the cap never leaks cache entries") {
    // fill the map with cap+4 distinct working sets; the overflow
    // must leave every evicted DataFrame UNPERSISTED (eviction that
    // forgets to unpersist would pin CacheManager entries for the
    // session's lifetime — exactly the leak the memo exists to stop)
    val dfs = (0 until cap + 4).map(i => ws(s"evict$i"))
    val persisted = dfs.count(_.storageLevel != StorageLevel.NONE)
    assert(persisted <= cap, s"$persisted live entries > cap $cap")
    // the survivors are exactly the most recently used tail
    assert(dfs.takeRight(cap).forall(_.storageLevel != StorageLevel.NONE))
    assert(dfs.take(4).forall(_.storageLevel == StorageLevel.NONE))
  }

  test("re-request of an evicted key re-persists (no permanent demotion)") {
    (0 until cap + 4).foreach(i => ws(s"cycle$i"))
    val first = ws("cycle0") // was evicted above — must come back hot
    assert(first.storageLevel != StorageLevel.NONE)
  }

  test("three sfDirs' worth of keys cannot thrash the hot tail") {
    // 3 dirs × (cap/2) keys = 1.5·cap > cap: verify the policy
    // degrades as an LRU should — the LAST `cap` touched stay
    // persisted, so a verify / bench driver iterating dir-by-dir (not
    // interleaving) always finds its CURRENT dir's whole working set
    // hot. perDir tracks the cap's sizing contract (cap = 2 dirs'
    // working sets) so a resize keeps this spec meaningful.
    val dirs = Seq("dA", "dB", "dC")
    val perDir = cap / 2
    val byDir = dirs.map { d =>
      d -> (0 until perDir).map(i => ws(s"$d|k$i"))
    }.toMap
    val nEvicted = dirs.size * perDir - cap
    assert(nEvicted > 0, "spec assumes 3 dirs overflow the cap")
    // the `cap` most recent — all of dC and dB, plus dA's tail — hot
    assert(byDir("dC").forall(_.storageLevel != StorageLevel.NONE))
    assert(byDir("dB").forall(_.storageLevel != StorageLevel.NONE))
    assert(byDir("dA").drop(nEvicted)
      .forall(_.storageLevel != StorageLevel.NONE))
    // dA's head was evicted, and evicted means unpersisted, not orphaned
    assert(byDir("dA").take(nEvicted)
      .forall(_.storageLevel == StorageLevel.NONE))
  }

  test("append-then-requery: fresh rows, fresh count, fresh centroid-backed query") {
    val dir = tmpDir("memo-append")
    val path = s"$dir/embeddings.parquet"
    val fixture = spark.read.parquet(s"$sf0001/embeddings.parquet")
    fixture.write.parquet(path)
    val query = graft.SparkEntry.queries("q_ann_ivf")
    def run() = query(spark, dir).collect().map(_.toString).sorted.toSeq
    val n0 = Tables(spark, dir, "embeddings").count()
    assert(Tables.memoizedCount(spark, dir, "embeddings") == n0)
    val before = run()
    // copies of the query vectors under fresh ids: every query's exact
    // nearest neighbour, so a result computed over the grown corpus
    // must rank them (the corpus count also sizes the IVF quantizer)
    val extra = fixture.filter(col("vec_id") < Similarity.recallMaxQid)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val added = extra.count()
    extra.write.mode("append").parquet(path)
    assert(Tables(spark, dir, "embeddings").count() == n0 + added)
    assert(Tables.memoizedCount(spark, dir, "embeddings") == n0 + added)
    val after = run()
    spark.catalog.clearCache()
    Tables.clearMemos(spark)
    Dedup.clearMemos(spark)
    Similarity.clearMemos(spark)
    assert(after == run(), "memoized re-query differs from a cold re-query")
    assert(after != before, "appended rows did not reach the query")
  }
}
