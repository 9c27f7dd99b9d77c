package perfbench

import graft.crawl.CrawlEngine
import graft.filter.CuckooFilter
import graft.frontier.{Frontier, SeenShards}
import graft.image.ImageCodec
import graft.model.{FrontierState, SeedUrl}
import graft.pipeline.UrlPipeline
import graft.synth.Synth
import graft.table.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

object Spans {
  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long,
                        batch: Long, query: String, attrs: ArrayBuffer[(String, Double)])
}

/** In-memory span log, written out once at the end of a traced run. */
final class Spans {
  import Spans.Span
  private val origin = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]

  /** Runs `body` as span `name` under `parent` (0 = the run itself). */
  def apply[T](name: String, parent: Int = 0, batch: Long = -1L, query: String = null)
              (body: Int => T): T = {
    val s = Span(spans.size + 1, name, parent, System.nanoTime() - origin, -1L,
      batch, query, ArrayBuffer.empty)
    spans += s
    try body(s.id) finally s.end = System.nanoTime() - origin
  }

  def annotate(id: Int, kv: (String, Double)*): Unit = spans(id - 1).attrs ++= kv

  def write(path: String): Unit = {
    val lines = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_s":${Json.num(s.start / 1e9)},"end_s":${Json.num(s.end / 1e9)},""" +
        s""""batch":${if (s.batch < 0) "null" else s.batch.toString},""" +
        s""""query":${if (s.query == null) "null" else Json.str(s.query)},"attrs":$attrs}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** The traced run of a drain workload, separate from the timed runs:
  *  1. the warm-up, then one untraced crawl of the workload (its drain
  *     wall is the reference for `crawl.unpipelined_s`);
  *  2. a traced crawl: `init` as one span, then `drain(1)` per batch,
  *     each batch span carrying its `phaseTotals` deltas and the counts
  *     read afterwards through public table reads; the crawl is checked
  *     against the reference oracle;
  *  3. a primitives pass timing the public calls of each layer on the
  *     workload's own urls and tables;
  *  4. the engine-backed queries over the flagship crawl, whose input is
  *     fixed (Flagship hard-codes its crawl config; the seed does not
  *     change it).
  * The per-layer metrics come from these spans. */
final class Traced(d: Drain, spansPath: String, workDir: String) {
  import d.spark.implicits._
  private val spark = d.spark
  private val w = d.w
  private val cfg = d.cfg
  private val spans = new Spans
  private val metrics = ArrayBuffer.empty[(String, Double, String)]
  private var attempted = 0L
  private var failed = 0L

  private def metric(name: String, v: Double, unit: String): Unit = metrics += ((name, v, unit))

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Median wall of `reps` runs of `body`. */
  private def medianS(reps: Int)(body: => Any): Double =
    Stats.median((1 to reps).map(_ => time(body)._2))

  private def checked(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      problems.foreach(p => d.log(s"CHECK FAILED ($what): $p"))
    }
  }

  /** Engine phases `CrawlEngine.phaseTotals` reports during a batch. */
  val BatchPhases: Seq[String] = Seq("claim", "process", "proc-wait", "processing-commit",
    "payload-commit", "payload-wait", "terminal-commit", "tail-wait", "enqueue-probe",
    "enqueue-gate", "seen-commit", "append-commit", "spec-wait", "discover-rank",
    "maxseq", "hygiene")
  /** The phases `init` (the bulk seed-list enqueue) runs. */
  val InitPhases: Seq[String] = Seq("enqueue-probe", "enqueue-gate", "seen-commit", "append-commit")

  private def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  def run(): Result = {
    spans("warm-up") { id =>
      val wu = d.warmUp()
      d.settle()
      spans.annotate(id, "setup_s" -> d.uptimeS)
      attempted += 1
      failed += d.checkWarmUp(wu)
    }
    val referenceDrainS = spans("reference-crawl") { id =>
      val cy = d.checkAndDrop(d.crawl(cfg, w.seeds, w.maxBatches))
      d.log(d.describe(0, cy))
      checked("reference crawl", cy.problems)
      spans.annotate(id, "drain_s" -> cy.drainS, "urls" -> cy.urls.toDouble)
      cy.drainS
    }
    val (eng, dir) = d.freshEngine(cfg)
    spans("traced-crawl") { id => tracedCrawl(id, eng, referenceDrainS) }
    spans("primitives") { id => primitives(id, eng) }
    Drain.rmrf(dir)
    spans("queries") { id => queries(id) }
    d.releaseStorage()
    spans.write(spansPath)
    Drain.rmrf(workDir)
    d.log(s"spans written to $spansPath")
    Result(failed == 0, attempted, failed, metrics.toSeq)
  }

  private def tracedCrawl(parent: Int, eng: CrawlEngine, referenceDrainS: Double): Unit = {
    val p0 = eng.phaseTotals
    spans("init", parent) { id =>
      eng.init(w.seeds)
      val dp = delta(p0, eng.phaseTotals)
      spans.annotate(id, dp.toSeq.sortBy(_._1).map { case (k, v) => s"phase.$k" -> v }: _*)
      InitPhases.foreach(p => metric(s"crawl.init.${p}_s", dp.getOrElse(p, 0.0), "s"))
    }
    val pInit = eng.phaseTotals
    val seeded = eng.frontierDf.count()
    val batchWalls = ArrayBuffer.empty[Double]
    var candidates, appended, compactions = 0L
    var deltaFilesBefore = deltaFiles(eng)
    var more = true
    var drainedUrls = 0L
    while (more) {
      val b = batchWalls.size + 1L
      val pb = eng.phaseTotals
      val (urls, wall) = spans("batch", parent, batch = b) { id =>
        val (r, s) = time(eng.drain(1)._2)
        if (r > 0) {
          val dp = delta(pb, eng.phaseTotals)
          // counts read back through public table reads
          val okUrls = eng.frontierDf
            .filter(col("processedAt") === b && col("state") === FrontierState.Processed)
            .select("url").as[String].collect()
          val cand = okUrls.iterator
            .map(u => Synth.outlinks(u, cfg.universe, cfg.nHosts, cfg.seed).size.toLong).sum
          val app = eng.frontierDf.filter(col("discoveredAt") === b).count()
          val df = deltaFiles(eng)
          val compacted = if (df <= deltaFilesBefore) 1L else 0L
          deltaFilesBefore = df
          candidates += cand; appended += app; compactions += compacted
          spans.annotate(id, (dp.toSeq.sortBy(_._1).map { case (k, v) => s"phase.$k" -> v } ++
            Seq("urls" -> r.toDouble, "ok" -> okUrls.length.toDouble,
              "candidates" -> cand.toDouble, "appended" -> app.toDouble,
              "frontier_files" -> files(eng).toDouble, "delta_files" -> df.toDouble,
              "compacted" -> compacted.toDouble)): _*)
        }
        (r, s)
      }
      if (urls > 0) { batchWalls += wall; drainedUrls += urls }
      more = urls > 0 && batchWalls.size < w.maxBatches
    }
    val dp = delta(pInit, eng.phaseTotals)
    BatchPhases.foreach(p => metric(s"crawl.phase.${p}_s", dp.getOrElse(p, 0.0), "s"))
    metric("crawl.batch_s.p50", Stats.quantile(batchWalls.toSeq, 0.5), "s")
    metric("crawl.batch_s.p90", Stats.quantile(batchWalls.toSeq, 0.9), "s")
    metric("crawl.unpipelined_s", batchWalls.sum - referenceDrainS, "s")
    metric("frontier.candidates", candidates.toDouble, "count")
    metric("frontier.appended", appended.toDouble, "count")
    metric("frontier.dup_ratio", 1.0 - appended.toDouble / math.max(1L, candidates), "ratio")
    metric("table.compactions", compactions.toDouble, "count")
    metric("table.delta_files", deltaFiles(eng).toDouble, "count")
    metric("table.files", files(eng).toDouble, "count")
    d.log(f"traced crawl: seeded $seeded, ${batchWalls.size} batches, $drainedUrls urls, " +
      f"candidates $candidates, appended $appended")

    spans("checks", parent) { id =>
      val cy = d.check(eng, w.maxBatches, 0.0, 0.0, batchWalls.size.toLong, drainedUrls, 0L, 0L)
      val expected = spans("oracle", id)(_ => d.oracle(cfg, w.seeds, w.maxBatches))
      checked("traced crawl", cy.problems ++ d.oracleProblems(cy, expected) ++
        (if (w.saturated && appended != 0) Seq(s"saturated drain appended $appended urls") else Nil))
      d.log(s"oracle: ${expected._3} processed, ${expected._4} failed")
    }
  }

  private def files(eng: CrawlEngine): Long =
    eng.frontier.currentManifest.map(_.files.size.toLong).getOrElse(0L)
  private def deltaFiles(eng: CrawlEngine): Long =
    eng.frontier.currentManifest.map(_.files.count(_.kind == "delta").toLong).getOrElse(0L)

  private def primitives(parent: Int, drained: CrawlEngine): Unit = {
    // --- synth, pipeline, image: per url, over the workload's own urls
    spans("per-url", parent) { id =>
      val urls = drained.committedOrder.select("url").as[String].take(PerUrlSample)
      val payloads = urls.map(u => Synth.fetch(u, cfg.seed))
      val ok = payloads.filter(_.ok)
      val imgs = ok.map(p => ImageCodec.decode(p.bytes))
      def perUs(n: Int)(body: => Unit): Double = medianS(3)(body) / n * 1e6
      metric("synth.fetch_us", perUs(urls.length)(urls.foreach(u => Synth.fetch(u, cfg.seed))), "us")
      metric("pipeline.process_us", perUs(urls.length)(
        urls.indices.foreach(i => UrlPipeline.process(urls(i), payloads(i)))), "us")
      metric("image.decode_us", perUs(ok.length)(ok.foreach(p => ImageCodec.decode(p.bytes))), "us")
      metric("image.encode_png_us", perUs(imgs.length)(imgs.foreach(ImageCodec.encode(_, "png"))), "us")
      metric("image.phash_us", perUs(imgs.length)(imgs.foreach(img =>
        ImageCodec.phash64(img.getWidth, img.getHeight, ImageCodec.pixels(img)))), "us")
      spans.annotate(id, "urls" -> urls.length.toDouble, "ok" -> ok.length.toDouble)
    }

    // --- filter: the drained engine's seen shards, at the workload's fill
    spans("filter", parent) { id =>
      val shards = drained.seen.snapshotBytes()
      val filters = shards.values.map(CuckooFilter.deserialize).toSeq
      val slots = cfg.nShards.toDouble * cfg.shardBuckets * 4
      metric("filter.load", filters.map(_.count).sum / slots, "ratio")
      metric("filter.shard_kb", shards.values.map(_.length).sum / 1024.0 / shards.size, "kB")
      metric("filter.deserialize_ms", medianS(5)(shards.values.foreach(CuckooFilter.deserialize)) /
        shards.size * 1e3, "ms")
      metric("filter.serialize_ms", medianS(5)(filters.foreach(_.serialize())) / filters.size * 1e3, "ms")
      // one shard rebuilt from its keys: insert and probe cost per key
      val keys = drained.seenSet.filter(pmod(col("fp"), lit(cfg.nShards.toLong)) === 0L)
        .as[Long].collect().sorted
      val absent = keys.map(_ ^ 0x5DEECE66DL)
      val insertS = medianS(3) {
        val f = CuckooFilter.withBuckets(cfg.shardBuckets)
        keys.foreach(f.insert)
      }
      val full = CuckooFilter.withBuckets(cfg.shardBuckets)
      keys.foreach(full.insert)
      var hits = 0L
      val probeS = medianS(3) {
        keys.foreach(k => if (full.mightContain(k)) hits += 1)
        absent.foreach(k => if (full.mightContain(k)) hits += 1)
      }
      metric("filter.insert_ns", insertS / keys.length * 1e9, "ns")
      metric("filter.probe_ns", probeS / (2 * keys.length) * 1e9, "ns")
      spans.annotate(id, "shard_keys" -> keys.length.toDouble, "hits" -> hits.toDouble)
    }

    // --- table: the drained payload, then a fresh frontier after init
    spans("payload-scan", parent) { _ =>
      metric("table.payload_scan_s",
        medianS(3)(drained.payloadDf.agg(sum(length(col("bytes")))).head()), "s")
    }
    val (eng, dir) = d.freshEngine(cfg)
    eng.init(w.seeds)
    spans("frontier", parent) { id =>
      val pending = eng.frontier.readStates(Set(FrontierState.Pending))
      metric("table.read_pending_s", medianS(3)(pending.count()), "s")
      metric("table.read_keys_s", medianS(3)(eng.frontier.readKeys().count()), "s")
      metric("frontier.claim_s", medianS(3)(
        Frontier.claimBySynthPolicy(eng.frontier.readStates(Set(FrontierState.Pending)),
          cfg.seed, cfg.batchSize, cfg.batchMs).count()), "s")
      // one batch's discovery wave: the outlinks of the first claim
      val claimed = Frontier.claimBySynthPolicy(eng.frontier.readStates(Set(FrontierState.Pending)),
        cfg.seed, cfg.batchSize, cfg.batchMs).select("url", "seq").as[(String, Long)].collect()
      val wave = claimed.sortBy(_._2).iterator
        .flatMap { case (u, _) => Synth.outlinks(u, cfg.universe, cfg.nHosts, cfg.seed) }
        .zipWithIndex.map { case (u, i) => SeedUrl(u, Frontier.NormalPriority, w.seeds + i.toLong) }
        .toSeq
      val entries = Frontier.firstOccurrence(
        Frontier.toEntries(spark, spark.createDataset(wave), 1L, cfg.seed)).localCheckpoint()
      val nEntries = entries.count()
      metric("frontier.seen_probe_s", medianS(3)(eng.seen.probe(entries).count()), "s")
      metric("frontier.gate_s", medianS(3)(
        Frontier.dedupGate(eng.seen.probe(entries), eng.frontier.readKeys()).count()), "s")
      // seen insert and table commits go to throwaway copies, so the
      // engine's own tables stay as init left them
      val insertS = (1 to 3).map { i =>
        val tbl = new SnapshotTable(spark, s"$dir/copy-seen-$i", "shard")
        tbl.commitAppend(eng.seenTbl.read())
        val shards = new SeenShards(spark, tbl, cfg.nShards, cfg.shardBuckets)
        time(shards.insert(entries.select("fp")))._2
      }
      metric("frontier.seen_insert_s", Stats.median(insertS), "s")
      val rows = eng.frontier.read().limit(cfg.batchSize).localCheckpoint()
      rows.count()
      val tbl = new SnapshotTable(spark, s"$dir/copy-table", "fp")
      metric("table.commit_append_s", time(tbl.commitAppend(rows))._2, "s")
      metric("table.commit_upsert_s", medianS(3)(
        tbl.commitUpsert(rows.withColumn("state", lit(FrontierState.Processed)))), "s")
      metric("table.compact_s", time(tbl.compactIfNeeded(maxDeltaCommits = 0))._2, "s")
      spans.annotate(id, "wave" -> wave.size.toDouble, "entries" -> nEntries.toDouble,
        "table_rows" -> cfg.batchSize.toDouble)
    }
    Drain.rmrf(dir)
  }

  /** The engine-backed `SparkEntry.queries`: one cold pass, then warm
    * passes; each warm pass must reproduce the cold pass's row count and
    * order-independent row hash. */
  private def queries(parent: Int): Unit = {
    val names = graft.queries.Engine.all.keySet
    val qs = graft.SparkEntry.queries.filter { case (k, _) => names(k) }.toSeq.sortBy(_._1)
    val input = s"$workDir/flagship-input"
    def digest(df: DataFrame): (Long, Long) = {
      val rows = df.collect()
      (rows.length.toLong, rows.iterator.map(r => graft.util.Hashing.xx64(Traced.render(r))).sum)
    }
    spans("flagship-build", parent) { id =>
      val (_, s) = time(graft.crawl.Flagship.engine(spark, input))
      spans.annotate(id, "wall_s" -> s)
    }
    val cold = spans("cold-pass", parent) { id =>
      qs.map { case (n, f) => n -> spans("query", id, query = n)(_ => digest(f(spark, input))) }.toMap
    }
    val warm = (1 to QueryPasses).map { pass =>
      spans("warm-pass", parent) { id =>
        qs.map { case (n, f) =>
          spans("query", id, query = n) { qid =>
            val (dg, s) = time(digest(f(spark, input)))
            checked(s"$n pass $pass",
              if (dg != cold(n)) Seq(s"$n: ${dg._1} rows / hash ${dg._2} != cold pass ${cold(n)}") else Nil)
            spans.annotate(qid, "rows" -> dg._1.toDouble)
            n -> s
          }
        }
      }
    }
    qs.foreach { case (n, _) =>
      metric(s"queries.${n}_s", Stats.median(warm.map(_.toMap.apply(n))), "s")
    }
    graft.crawl.Flagship.cleanup()
  }

  private val PerUrlSample = 400
  private val QueryPasses = 2
}

object Traced {
  /** A row as text with byte arrays and nested values spelled out, so
    * equal results render equal in any JVM. */
  def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}
