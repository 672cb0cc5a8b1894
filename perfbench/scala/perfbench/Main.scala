package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one workload run shares: the session, the tracer, its
  * own working directory and the run's parameters. Results accumulate
  * here and are written as one JSON document at the end. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val runDir: String,
                val seed: Long, val seconds: Double, val trace: Boolean,
                val args: Map[String, String]) {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  /** The seed of the untimed warm-up pass: never the measured one. */
  def warmSeed: Long = seed + 1000003L

  def dir(name: String): String = {
    val d = s"$runDir/$name"
    Files.createDirectories(Paths.get(d))
    d
  }

  def fail(what: String): Unit = synchronized {
    System.err.println(s"[perfbench] FAIL $what")
    failures += what
  }

  /** Run `op`, counting it as attempted and any exception as a failure. */
  def attempt[T](what: String)(op: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(op)
    catch { case e: Throwable => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val i = q * (s.size - 1)
    val lo = math.floor(i).toInt
    val hi = math.ceil(i).toInt
    s(lo) + (s(hi) - s(lo)) * (i - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(t0))
  }
}

object Main {
  /** Temp root; the runner points `java.io.tmpdir` into the run's own directory. */
  def tmpRoot: java.nio.file.Path = Paths.get(System.getProperty("java.io.tmpdir"))

  private def loadavg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble)
      .getOrElse(-1.0)

  /** Fixed-work Spark job: its wall time next to a run's numbers tells a
    * slow host from a slow plan. Median of three. */
  private def canary(spark: SparkSession): Double =
    Stats.median((1 to 3).map { _ =>
      Stats.time(spark.range(0L, 1000000L, 1L, 4).selectExpr("sum(hash(id))").collect())._2
    })

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRec)
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val workload = argv(0)
    val args = argv.drop(1).grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val runDir = args("run-dir")
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val spark = graft.Sessions.benchLocal(
        SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$workload"), cores)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = args.getOrElse("trace", "0") == "1"
    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = new Ctx(spark, tracer, runDir, args("seed").toLong, args("seconds").toDouble,
      trace, args)
    val sessionStart = Stats.secs(t0)
    ctx.extra("session_start_s") = sessionStart
    ctx.extra("cores") = cores
    ctx.extra("loadavg_before") = loadavg()
    ctx.extra("canary_before_s") = canary(spark)
    val tw = System.nanoTime()
    try workload match {
      case "cdc" => CdcRun.run(ctx)
      case "analytics" => AnalyticsRun.run(ctx)
      case other => ctx.fail(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.attempted += 1
        ctx.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    ctx.extra("workload_s") = Stats.secs(tw)
    ctx.extra("canary_after_s") = canary(spark)
    ctx.extra("loadavg_after") = loadavg()
    tracer.drain()
    // data set-up is repeated inside the workload; the session start is
    // paid once per run and counts towards set-up time as well
    ctx.e2e.get("setup_s").foreach(s => ctx.e2e("setup_s") = s + sessionStart)
    val result = Json.obj(Map(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> trace,
      "attempted" -> ctx.attempted, "failed" -> ctx.failures.size.toLong,
      "failures" -> ctx.failures.toList, "e2e" -> ctx.e2e.toMap, "layers" -> ctx.layers.toMap,
      "extra" -> ctx.extra.toMap, "counters" -> tracer.total.toMap))
    Files.write(Paths.get(args("out")), result.getBytes("UTF-8"))
    if (trace) args.get("artifact").foreach { a =>
      Files.write(Paths.get(a), tracer.toJson(workload, args.getOrElse("run-id", "")).getBytes("UTF-8"))
    }
    spark.stop()
  }
}
