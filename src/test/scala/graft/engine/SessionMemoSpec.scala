package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The per-session LRU every engine memo is an instance of
  * ([[SessionMemo]]): LRU order, eviction hooks, per-session clear,
  * and the build race; plus the source scans that keep one memo class
  * and one session builder ([[Tables.builder]]). */
class SessionMemoSpec extends SparkSpec {
  import spark.implicits._

  private def recording(cap: Int) = {
    val evicted = ArrayBuffer.empty[Int]
    (new SessionMemo[Int](cap, onEvict = v => evicted += v), evicted)
  }

  test("a touch refreshes LRU order") {
    val (memo, evicted) = recording(2)
    memo(spark, "a")(1)
    memo(spark, "b")(2)
    assert(memo.get(spark, "a").contains(1)) // a is now most recent
    memo(spark, "c")(3)
    assert(evicted == Seq(2))
    assert(memo.get(spark, "b").isEmpty)
    // a hit through apply touches too, and never rebuilds
    assert(memo(spark, "a")(sys.error("hit must not build")) == 1)
    memo(spark, "d")(4)
    assert(evicted == Seq(2, 3))
    assert(memo.get(spark, "a").contains(1))
  }

  test("overflowing the cap runs onEvict exactly once per evicted entry") {
    val (memo, evicted) = recording(3)
    (1 to 7).foreach(i => memo(spark, s"k$i")(i))
    assert(evicted == Seq(1, 2, 3, 4))
    (5 to 7).foreach(i => assert(memo.get(spark, s"k$i").contains(i)))
  }

  test("clear(spark) leaves a sibling session's entries alone") {
    val (memo, evicted) = recording(8)
    val other = spark.newSession()
    memo(spark, "k")(1)
    memo(other, "k")(2)
    memo.clear(spark)
    assert(evicted == Seq(1))
    assert(memo.get(spark, "k").isEmpty)
    assert(memo.get(other, "k").contains(2))
  }

  test("racing builds of one key both get the winner; the loser is never persisted") {
    val memo = new SessionMemo[DataFrame](4,
      onAccess = df =>
        if (df.storageLevel == StorageLevel.NONE)
          df.persist(StorageLevel.MEMORY_AND_DISK),
      onEvict = _.unpersist())
    val bothBuilding = new java.util.concurrent.CountDownLatch(2)
    val built = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    def build(i: Int): DataFrame = {
      val df = Seq(i).toDF("v")
      built.add(df)
      bothBuilding.countDown()
      assert(bothBuilding.await(30, SECONDS), "builds did not overlap")
      df
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val got = try Await.result(Future.sequence(Seq(1, 2).map(i =>
      Future(memo(spark, "race")(build(i))))), 60.seconds)
    finally pool.shutdown()
    assert(built.size == 2)
    val winner = memo.get(spark, "race").get
    assert(got.forall(_ eq winner))
    assert(winner.storageLevel != StorageLevel.NONE)
    val loser = built.toArray(Array.empty[DataFrame]).filterNot(_ eq winner)
    assert(loser.length == 1)
    // storageLevel asks the CacheManager, and the two builds' plans
    // differ, so NONE means the loser was never registered there
    assert(loser.head.storageLevel == StorageLevel.NONE)
    memo.clear(spark)
    assert(winner.storageLevel == StorageLevel.NONE)
  }

  test("no src/main file outside SessionMemo declares a session-keyed map") {
    // the 11 hand-rolled memos became SessionMemo instances; a new
    // map or set keyed by SparkSession would bring back its own
    // sweep/evict/clear copy and its own staleness rule
    val keyed = ("""(Map|Set)(\s*\.empty)?\s*\[\s*\(?\s*""" +
      """(org\.apache\.spark\.sql\.)?SparkSession\b""").r
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.endsWith("graft/engine/SessionMemo.scala")))
    val offenders = files
      .filterNot(_.endsWith("graft/engine/SessionMemo.scala"))
      .filter(p => keyed.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
    assert(offenders.isEmpty,
      s"session-keyed map outside SessionMemo: ${offenders.mkString(", ")}")
  }

  test("no session is built outside Tables.builder") {
    // a session built any other way picks its own confs and so runs
    // a different engine from the one Bench measures; the pattern is
    // split so this file does not match it
    val call = ("Spark" + """Session\s*\.\s*builder\b""").r
    val files = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".scala"))
    }
    val sites = files.flatMap { p =>
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .split('\n').toSeq.zipWithIndex.collect {
          case (l, i) if call.findFirstIn(l).isDefined => s"$p:${i + 1}"
        }
    }
    val (own, offenders) = sites.partition(
      _.startsWith("src/main/scala/graft/engine/Tables.scala:"))
    assert(offenders.isEmpty,
      s"(${offenders.length} sites outside Tables.builder)")
    assert(own.length == 1)
  }

  test("the test session carries the engine's static confs") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(spark.sparkContext.getConf
      .getInt("spark.shuffle.sort.bypassMergeThreshold", 200) == 1)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.catalogImplementation") == "hive")
  }
}
