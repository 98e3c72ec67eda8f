package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run inside a fresh JVM: start Spark, set the workload up,
  * run its closed loop (one client: the next call is issued only after the
  * previous one returned), and write what happened to `--out`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --trace <0|1>
  *          --inputs <dir> --work <dir> --out <file>
  *
  * The inputs were generated from the seed beforehand; statistics and most
  * output checks are computed from the result file by `run.py`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val trace = opt.getOrElse("trace", "0") == "1"
    val inputs = opt("inputs")
    val work = opt("work")
    val params = Params.load(s"$inputs/params.properties")

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val tracer = new Tracer(spark, trace)
    val rec = new Recorder(tracer)
    val wl: Workload = workload match {
      case "etl_nightly" => new EtlNightly(spark, rec, tracer, params, inputs, work)
      case "query_mix" => new QueryMix(spark, rec, tracer, params, inputs, work)
      case "text_nightly" => new TextNightly(spark, rec, tracer, params, inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    tracer.span("setup", "setup")(wl.setup())
    // JVM start to the first timed operation
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    wl.run()
    tracer.span("final", "check")(wl.finish())
    tracer.drain()

    val result = Map(
      "workload" -> workload,
      "setup" -> Map("session_s" -> sessionS, "setup_s" -> setupS),
      "peak_rss_mb" -> Tracer.peakRssMb(),
      "ops" -> rec.json,
      "outputs" -> wl.outputs,
      "trace" -> (if (trace) tracer.dump() else null))
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
  }
}

/** key=value inputs written by the generator. */
final class Params(p: java.util.Properties) {
  def apply(k: String): String = Option(p.getProperty(k))
    .getOrElse(throw new NoSuchElementException(s"params: $k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
}

object Params {
  def load(path: String): Params = {
    val p = new java.util.Properties()
    val r = Files.newBufferedReader(Paths.get(path))
    try p.load(r) finally r.close()
    new Params(p)
  }
}
