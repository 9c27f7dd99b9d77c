package perfbench

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.model.FrontierState
import graft.oracle.RefOracle
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** One drain workload: the crawl configuration (minus the seed, which
  * each run passes in), the seed-list size and the batch cap. */
final case class Workload(name: String, seeds: Int, cfg: CrawlConfig,
                          maxBatches: Int) {
  /** Every outlink target is a seed id below `universe`: nothing new is
    * ever discovered. */
  def saturated: Boolean = cfg.universe <= seeds
}

/** One init + drain of a fresh frontier, not yet checked. */
final case class Crawled(eng: CrawlEngine, dir: String, maxBatches: Int,
                         seedS: Double, drainS: Double, batches: Long, urls: Long, peak: Long)

/** What one init + drain of a fresh frontier measured and checked. */
final case class Cycle(seedS: Double, drainS: Double, batches: Long, urls: Long,
                       peakCachedBytes: Long, storedBytes: Long,
                       orderHash: Long, seenHash: Long, problems: Seq[String]) {
  def urlsPerS: Double = urls / drainS
}

object Drain {
  /** Hosts' politeness budgets are sized so that no host cap binds
    * before the batch size does: the batch count then follows the url
    * count, not which hosts a seed happens to make hot and slow. */
  private val wideWindowMs = 1000L * 1000 * 1000

  val Workloads: Map[String, Workload] = Seq(
    // every outlink target is a seed id below `universe`, already in the
    // frontier: the gate rejects every candidate, nothing is appended
    Workload("drain-saturated", seeds = 6144,
      CrawlConfig(nHosts = 100, universe = 1024, batchSize = 1536,
        batchMs = wideWindowMs), maxBatches = 2),
    // outlinks land in a 2^30-id space: each processed url appends ~1.3
    // new urls, and the seen set is sized so the seeds alone fill it to
    // its design load (16 shards x 128 buckets x 4 slots = 8,192 slots,
    // 0.92 full); the appends then push every shard past capacity
    Workload("drain-growth", seeds = 7500,
      CrawlConfig(nHosts = 100, universe = 1 << 30, batchSize = 1024,
        batchMs = wideWindowMs, nShards = 16, shardBuckets = 1 << 7),
      maxBatches = 2)
  ).map(w => w.name -> w).toMap

  /** The first warm-up crawl: the workload's init, then one batch of
    * this many urls. */
  val WarmBatchSize = 512
  /** A timed run measures at least this many cycles, more while the next
    * one still fits in `--seconds`. */
  val MinCycles = 3

  def rmrf(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try {
        val all = new java.util.ArrayList[java.nio.file.Path]()
        s.forEach(q => all.add(q))
        java.util.Collections.reverse(all)
        all.forEach(q => java.nio.file.Files.deleteIfExists(q))
      } finally s.close()
    }
  }

  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var total = 0L
        s.forEach(q => if (java.nio.file.Files.isRegularFile(q)) total += java.nio.file.Files.size(q))
        total
      } finally s.close()
    }
  }

  private def hashSeq(xs: Iterator[String]): Long = {
    var h = 0xcbf29ce484222325L
    xs.foreach { s => h = (h ^ graft.util.Hashing.xx64(s)) * 0x100000001b3L }
    h
  }
  def orderHash(rows: Iterator[(Long, Int, Long, Long, String, String, String)]): Long =
    hashSeq(rows.map { case (b, p, s, fp, u, st, e) => s"$b|$p|$s|$fp|$u|$st|$e" })
  def seenHash(sortedFps: Iterator[Long]): Long = hashSeq(sortedFps.map(_.toString))
}

final class Drain(val spark: SparkSession, val w: Workload, val seed: Long,
                  workDir: String, val storage: StorageListener) {
  import Drain._
  import spark.implicits._

  val cfg: CrawlConfig = w.cfg.copy(seed = seed)
  val warmCfg: CrawlConfig = cfg.copy(batchSize = WarmBatchSize)
  private var engines = 0

  def log(msg: String): Unit = System.err.println(f"[perfbench] $uptimeS%7.2f $msg")

  /** Drop every cached table and persisted RDD the previous engine left,
    * so each crawl starts from the same empty storage. */
  def releaseStorage(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def freshEngine(c: CrawlConfig): (CrawlEngine, String) = {
    releaseStorage()
    engines += 1
    val dir = s"$workDir/e$engines"
    rmrf(dir)
    (new CrawlEngine(spark, dir, c), dir)
  }

  /** One init + drain of a fresh frontier. Returns its walls with the
    * engine and its directory, for the checks to read afterwards. */
  def crawl(c: CrawlConfig, seeds: Int, maxBatches: Int): Crawled = {
    val (eng, dir) = freshEngine(c)
    storage.resetPeak()
    val t0 = System.nanoTime()
    eng.init(seeds)
    val t1 = System.nanoTime()
    val (batches, urls) = eng.drain(maxBatches)
    val t2 = System.nanoTime()
    Crawled(eng, dir, maxBatches, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      batches, urls, storage.peakBytes)
  }

  /** Checks a crawl's output and deletes its directory. */
  def checkAndDrop(cr: Crawled): Cycle = {
    val stored = dirBytes(cr.dir)
    val cy = check(cr.eng, cr.maxBatches, cr.seedS, cr.drainS, cr.batches, cr.urls, cr.peak, stored)
    rmrf(cr.dir)
    cy
  }

  /** Output checks that need no reference run: no row left in
    * `processing`, no fp twice, every terminal row accounted for by the
    * drain, the batch cap honoured, and the seen set (filter count and
    * key scan) equal to the frontier, i.e. seeded + appended. */
  def check(eng: CrawlEngine, maxBatches: Int, seedS: Double, drainS: Double,
            batches: Long, urls: Long, peak: Long, stored: Long): Cycle = {
    val problems = Seq.newBuilder[String]
    val rows = eng.frontierDf.select("fp", "state", "discoveredAt", "processedAt")
      .as[(Long, String, Long, Long)].collect()
    def n(p: ((Long, String, Long, Long)) => Boolean) = rows.count(p).toLong
    val processing = n(_._2 == FrontierState.Processing)
    val pending = n(_._2 == FrontierState.Pending)
    val drained = n(r => r._4 >= 0 && (r._2 == FrontierState.Processed || r._2 == FrontierState.Failed))
    val distinctFps = rows.iterator.map(_._1).toSet.size.toLong
    val seenFps = eng.seenSet.as[Long].collect().sorted
    val filterCount = eng.seen.totalCount
    if (processing != 0) problems += s"$processing rows left in processing"
    if (pending > 0 && batches != maxBatches)
      problems += s"$batches batches with $pending rows pending, cap $maxBatches"
    if (drained != urls) problems += s"drain reported $urls urls, frontier holds $drained terminal rows"
    if (distinctFps != rows.length) problems += s"${rows.length - distinctFps} duplicated fps"
    if (seenFps.length != rows.length) problems += s"seen keys ${seenFps.length} != frontier rows ${rows.length}"
    if (filterCount != rows.length) problems += s"seen filter counts $filterCount != frontier rows ${rows.length}"
    val order = eng.committedOrder
      .as[(Long, Int, Long, Long, String, String, String)].collect()
    Cycle(seedS, drainS, batches, urls, peak, stored,
      orderHash(order.iterator), seenHash(seenFps.iterator), problems.result())
  }

  /** The reference oracle's committed-order and seen-set hashes and its
    * processed / failed counts for the same crawl (single-threaded, no
    * Spark). Synthetic fetch and robots failures are part of the
    * expected order, so they are checked as exact counts, not errors. */
  def oracle(c: CrawlConfig, seeds: Int, maxBatches: Int): (Long, Long, Long, Long) = {
    // stopping after `maxBatches` leaves the oracle where drain(maxBatches) stops
    val r = RefOracle.run(seeds, c, crashAfterBatch = Some(maxBatches.toLong))
    val ok = r.log.count(_.state == FrontierState.Processed).toLong
    (orderHash(r.log.iterator.map(x =>
      (x.batchNo, x.priority, x.seq, x.fp, x.url, x.state, x.error))),
      seenHash(r.seen.iterator), ok, r.log.size.toLong - ok)
  }

  def oracleProblems(cy: Cycle, expected: (Long, Long, Long, Long)): Seq[String] = {
    val (oh, sh, _, _) = expected
    (if (cy.orderHash != oh) Seq(f"committed order hash ${cy.orderHash}%016x != oracle $oh%016x") else Nil) ++
      (if (cy.seenHash != sh) Seq(f"seen set hash ${cy.seenHash}%016x != oracle $sh%016x") else Nil)
  }

  /** Bounded warm-up: a small crawl (the workload's init, then one
    * 512-url batch) that pays the JIT's and Spark's code generation. It
    * is kept for `checkWarmUp`, which runs after the timed window: the
    * oracle runs the pipeline on the calling thread, and right before a
    * timed crawl it would leave its garbage and JIT churn to that crawl. */
  def warmUp(): Crawled = {
    val small = crawl(warmCfg, w.seeds, 1)
    log(f"warm-up crawl: init ${small.seedS}%.2f s, drain ${small.drainS}%.2f s")
    small
  }

  /** Checks the warm-up crawl, against the oracle too; 1 if it fails. */
  def checkWarmUp(small: Crawled): Int = {
    val cy = checkAndDrop(small)
    val ps = cy.problems ++ oracleProblems(cy, oracle(warmCfg, w.seeds, 1))
    ps.foreach(p => log(s"CHECK FAILED (warm-up): $p"))
    if (ps.isEmpty) 0 else 1
  }

  /** A full GC between phases, so no phase inherits the previous one's
    * garbage. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
  }

  def describe(i: Int, cy: Cycle): String =
    f"crawl $i: init ${cy.seedS}%.2f s, drain ${cy.drainS}%.2f s, ${cy.batches} batches, " +
      f"${cy.urls} urls, ${cy.urlsPerS}%.0f urls/s, peak cached ${cy.peakCachedBytes / 1e6}%.1f MB, " +
      f"stored ${cy.storedBytes / 1e6}%.1f MB"

  /** JVM uptime: the process's wall since it started. */
  def uptimeS: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** The timed run: the warm-up, then init + drain cycles of the
    * workload on fresh engines: at least `MinCycles`, more while the next
    * one still fits in `seconds`. Every cycle runs the output checks and
    * must reproduce the first cycle's committed order and seen set; the
    * warm-up crawl is checked against the reference oracle (the traced
    * run checks a full workload crawl against it).
    *
    * The JIT is still compiling through the whole run: cycle after cycle
    * gets faster (by 20-40% from the first to the third). So the drain
    * and init walls report the fastest cycle, the one closest to steady
    * state; a median would mostly measure how far the JIT had got. */
  def timed(seconds: Double): Result = {
    val warm = warmUp()
    settle()
    val setupS = uptimeS
    val t0 = System.nanoTime()
    val done = Seq.newBuilder[Crawled]
    var n = 0
    var longest = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (n < MinCycles || elapsed + longest <= seconds) {
      val c0 = System.nanoTime()
      done += crawl(cfg, w.seeds, w.maxBatches)
      longest = math.max(longest, (System.nanoTime() - c0) / 1e9)
      n += 1
    }
    log(f"timed crawls done after ${elapsed}%.2f s")
    // the checks only read, each its own engine: run them side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(done.result().size + 1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val (cs, warmFailed) = try {
      val checks = done.result().map(cr => Future(checkAndDrop(cr)))
      val warmCheck = Future(checkWarmUp(warm))
      (checks.map(Await.result(_, Duration.Inf)), Await.result(warmCheck, Duration.Inf))
    } finally pool.shutdown()
    val ref = cs.head
    val failed = cs.zipWithIndex.count { case (cy, i) =>
      log(describe(i + 1, cy))
      val ps = cy.problems ++
        (if (cy.orderHash != ref.orderHash || cy.seenHash != ref.seenHash)
          Seq("committed order or seen set differs between cycles of one seed") else Nil)
      ps.foreach(p => log(s"CHECK FAILED: $p"))
      ps.nonEmpty
    }
    rmrf(workDir)
    Result(failed + warmFailed == 0, cs.size + 1, failed + warmFailed, Seq(
      ("setup_s", setupS, "s"),
      ("crawl_urls_per_s", cs.map(_.urlsPerS).max, "urls/s"),
      ("seed_s", cs.map(_.seedS).min, "s"),
      ("stored_mb", Stats.median(cs.map(_.storedBytes / 1e6)), "MB"),
      ("peak_cached_mb", Stats.median(cs.map(_.peakCachedBytes / 1e6)), "MB")))
  }
}
