package perfbench

import org.apache.spark.sql.SparkSession

/** Entry point: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints one JSON object as the last line
  * of stdout: `{"correct", "attempted", "failed", "metrics"}` — the
  * end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. Everything it writes lives under `--work`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"))
  }

  /** local[cpus] with the settings graft.Bench uses for its drains. */
  def session(cpus: Int, localDir: String): SparkSession = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(localDir))
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = Drain.Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; " +
        s"known: ${Drain.Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val spark = session(Runtime.getRuntime.availableProcessors(), s"${a.work}/spark_local")
    val storage = new StorageListener
    spark.sparkContext.addSparkListener(storage)
    val result =
      try {
        val bench = new Drain(spark, workload, a.seed, s"${a.work}/engine", storage)
        if (a.trace) new Traced(bench, s"${a.work}/spans.jsonl", s"${a.work}/engine").run()
        else bench.timed(a.seconds)
      } finally spark.stop()
    println(result.toJson)
  }
}

/** What a run reports on its last line. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Double, String)]) {
  def toJson: String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
