package graft.tools

import graft.engine.TextOps
import org.apache.spark.sql.functions._

/** Dev evidence for the BPE scale shape — two experiments in one
  * harness, both on a synthetic corpus far beyond the SF fixtures
  * (`nDocs` documents × 100 tokens drawn deterministically from a
  * `vocab`-word letter-only vocabulary; letters dense in the pinned
  * merge table so walks actually merge; generation executor-side —
  * the driver never holds the corpus):
  *
  *  1. ENCODE (default args): the full [[TextOps.bpeAccounting]]
  *     pipeline, checked exactly against a closed-form total (encode
  *     the vocabulary once driver-side + occurrence arithmetic).
  *  2. TRAIN (nMerges arg): [[TextOps.bpeTrainOn]]'s BOTH branches at
  *     real merge counts — the driver classic fit vs the forced
  *     distributed round loop — asserting the learned tables are
  *     IDENTICAL and recording wall/merge for each. The corpus-sized
  *     work (tokenize + groupBy(word)) happens once in either branch;
  *     after that cost is a function of the DICTIONARY, so the
  *     crossover is a dictionary-size story: at 10k distinct words
  *     the in-memory loop is ~7× cheaper per merge than a Spark
  *     round (scheduling overhead dominates); at a 1M-word dictionary
  *     the DISTRIBUTED loop wins 2.8× (the driver loop scales
  *     linearly with the dictionary, the round overhead is ~flat) —
  *     and past driver memory only the distributed loop exists at
  *     all. The measured crossover (~400k rows) is bpeTrain's
  *     driverVocabLimit default.
  *
  * Usage:
  *   sbt "runMain graft.tools.BpeScale [nDocs] [nMerges] [vocab]"
  *   # defaults: 100000 16 10000
  *
  * Measured (local[32]): ENCODE nDocs=1,000,000 → 100,000,000 corpus
  * tokens (999,152-word realized dictionary) encoded exactly equal to
  * the closed form in 13.7–16.9 s. TRAIN (r17 record, also in
  * BASELINE.md): 1000 merges over the same 100M tokens / 1M-word
  * dictionary — distributed rounds 546.9 s (547 ms/merge) vs driver
  * classic fit 1520.2 s (1520 ms/merge), learned tables IDENTICAL;
  * at vocab=10k the driver wins 55 vs 405 ms/merge — the measured
  * crossover behind bpeTrain's 400k driverVocabLimit.
  */
object BpeScale {
  private val docLen = 100
  private val letters = "ethanriosw" // merge-table-dense alphabet

  /** splitmix64 finalizer (the SemScale convention) — load-bearing
    * here: the r16 generator was LINEAR in (k, j), whose mod-10
    * letters and mod-8 lengths repeat with period 40 — the "10k
    * vocabulary" was effectively 40 distinct strings, far too small
    * to say anything about dictionary-sized training cost. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic word k: hash-mixed length 3–10 (+4 for vocabularies
    * past 100k so 1M ids stay ~distinct strings), letters from the
    * dense set. A ~0.5% birthday-collision rate at 1M is fine — the
    * harness prints the REALIZED distinct count and all exactness
    * checks key on string identity, not id identity. */
  private[tools] def wordOf(k: Int, vocab: Int): String = {
    val extra = if (vocab > 100000) 4 else 0
    val len = 3 + extra + (mix(k.toLong) & 7L).toInt
    val sb = new StringBuilder(len)
    var j = 0
    while (j < len) {
      sb.append(letters(
        ((mix(k.toLong * 1000003L + j) >>> 40) % letters.length).toInt))
      j += 1
    }
    sb.result()
  }

  private[tools] def slotWord(d: Long, j: Int, vocab: Int): Int =
    ((d * 31L + j * 7L) % vocab).toInt

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toInt else 100000
    val nMerges = if (args.length > 1) args(1).toInt else 16
    val vocab = if (args.length > 2) args(2).toInt else 10000
    val spark = graft.engine.Tables.builder("graft-bpe-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpus = spark.sparkContext.defaultParallelism
    import spark.implicits._

    val vs = vocab
    val docs = spark.range(0L, nDocs.toLong, 1L, cpus)
      .as[Long].mapPartitions { it =>
        it.map { d =>
          val sb = new StringBuilder
          var j = 0
          while (j < docLen) {
            sb.append(wordOf(slotWord(d, j, vs), vs))
            sb.append(' ')
            j += 1
          }
          (d, "synth", sb.result().trim)
        }
      }.toDF("doc_id", "source", "text")

    val t0 = System.nanoTime()
    val agg = TextOps.bpeAccounting(docs)
      .agg(sum(col("n_tokens")).as("tok"),
        sum(col("n_bpe_tokens")).as("bpe"))
      .collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9

    // closed form: encode the vocabulary once driver-side, then sum
    // each slot's word length over the generator arithmetic
    val encLen = Array.tabulate(vocab)(k =>
      TextOps.bpeEncode(wordOf(k, vocab)).length.toLong)
    var expBpe = 0L
    var d = 0L
    while (d < nDocs) {
      var j = 0
      while (j < docLen) { expBpe += encLen(slotWord(d, j, vocab)); j += 1 }
      d += 1
    }
    val expTok = nDocs.toLong * docLen
    val distinctWords =
      (0 until vocab).view.map(wordOf(_, vocab)).toSet.size
    val ok = agg.getLong(0) == expTok && agg.getLong(1) == expBpe
    println(f"BpeScale nDocs=$nDocs vocab=$vocab (distinct words " +
      f"$distinctWords) tokens=${agg.getLong(0)} " +
      f"bpe=${agg.getLong(1)} expected=($expTok, $expBpe) " +
      f"exact=$ok secs=$secs%.1f")
    if (!ok) sys.exit(1)

    // trainer evidence at the same scale: the distributed BATCHED
    // round loop (the even-the-dictionary-overflows branch) must
    // learn the exact table the driver classic fit learns on the
    // full corpus, at any merge count; walls are recorded per merge,
    // and the batched loop also records how many recount rounds the
    // provably-independent batches amortized the fit into
    val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val cum = new java.util.concurrent.atomic.AtomicLong(0L)
    val t1 = System.nanoTime()
    val dist = TextOps.bpeTrainOn(docs, nMerges = nMerges,
        driverVocabLimit = -1L,
        // live per-round trace: the batch-size CURVE is the evidence
        // a killed run leaves behind (r18's 32k cut died silently)
        onRound = sz => { val r = rounds.incrementAndGet()
          batches.add(sz)
          val c = cum.addAndGet(sz.toLong)
          println(f"[BpeScale round $r] batch=$sz cum=$c " +
            f"t=${(System.nanoTime() - t1) / 1e9}%.0f s") })
      .collect().map(_.toSeq).toSeq
    val distSecs = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val drv = TextOps.bpeTrainOn(docs, nMerges = nMerges,
        driverVocabLimit = Long.MaxValue)
      .collect().map(_.toSeq).toSeq
    val drvSecs = (System.nanoTime() - t2) / 1e9
    val tOk = dist == drv && dist.size == nMerges
    val nRounds = rounds.get()
    val bArr = batches.toArray(Array.empty[Integer]).map(_.intValue())
    val maxB = if (bArr.isEmpty) 0 else bArr.max
    // per-merge and avg-batch figures divide by merges actually
    // LEARNED, not requested — a drying vocabulary can finish short
    // and nMerges would overstate both (r18 ADVICE)
    val nLearned = math.max(1, dist.size)
    println(f"BpeScale train nDocs=$nDocs vocab=$vocab merges=$nMerges: " +
      f"dist=$distSecs%.1f s (${distSecs / nLearned * 1000}%.1f ms/merge, " +
      f"$nRounds rounds, avg batch ${nLearned.toDouble / math.max(1, nRounds)}%.1f, " +
      f"max batch $maxB) " +
      f"driver=$drvSecs%.1f s (${drvSecs / nLearned * 1000}%.1f ms/merge) " +
      f"identical=$tOk learned=${dist.size}")
    if (!tOk) sys.exit(1)
    spark.stop()
  }
}
