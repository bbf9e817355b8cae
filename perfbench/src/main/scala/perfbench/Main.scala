package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed unit of work. `kind` groups ops for per-kind latencies
  * (query family, or ingest/read/compact).
  */
final case class Op(name: String, kind: String, run: () => Unit)

/** A workload: the untimed set-up it needs and the fixed ops of a pass. */
trait Workload {
  /** Builds the program's shared snapshot artifacts (untimed set-up). */
  def prewarm(): Unit
  /** First execution of every op; also writes what the check compares. */
  def warmup(): Seq[(String, Option[String])]
  /** Untimed preparation before pass `p` (e.g. resetting a table). */
  def beforePass(p: Int): Unit = ()
  def ops(p: Int): Seq[Op]
  /** Untimed observations after pass `p`, as named values. */
  def afterPass(p: Int): Map[String, Double] = Map.empty
  /** Extra result-file fields (check inputs). */
  def extra: Map[String, Any] = Map.empty
}

/** Harness entry point: runs one workload in one JVM and writes a JSON
  * result file that `perfbench/run.py` turns into metrics.
  *
  * Usage: Main --workload W --kind queries|etl [--queries a,b,..] --data DIR
  *   --work DIR --seconds S --pass-seconds P --trace 0|1 --seed N --out FILE --cpus N
  */
object Main {
  final case class Conf(
      workload: String, kind: String, queries: Seq[String], data: String, work: String,
      seconds: Double, passSeconds: Double, trace: Boolean, seed: Long, out: String, cpus: Int)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("kind"), m.getOrElse("queries", "").split(",").toSeq.filter(_.nonEmpty),
      m("data"), m("work"), m("seconds").toDouble, m("pass-seconds").toDouble,
      m("trace") == "1", m("seed").toLong,
      m("out"), m("cpus").toInt)
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  /** A local session configured like the program's own bench session:
    * its extensions and local-filesystem confs, with shuffle partitions
    * and AQE derived from the input volume by the same rule.
    */
  private def session(c: Conf): SparkSession = {
    val bytes = dirBytes(new File(c.data))
    val parts = math.max(1, math.max(c.cpus / 4, (bytes / (64L << 20)).toInt))
    graft.Scratch.localFsConfs.foldLeft(SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName("perfbench"))((b, kv) => b.config(kv._1, kv._2))
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", (bytes >= (1L << 30)).toString)
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0d
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0d)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    new File(c.work).mkdirs()
    val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val startEpochMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = session(c)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = secs(t0)

    val trace = new Trace(false)
    val tracedTrace = new Trace(c.trace)
    var active = trace
    val spanOf = new Spanner { def apply[T](n: String)(b: => T): T = active.span(n)(b) }
    val w: Workload = c.kind match {
      case "queries" => new Queries(spark, c, spanOf)
      case "etl"     => new Etl(spark, c, spanOf)
      case other     => throw new IllegalArgumentException(s"unknown workload kind $other")
    }

    val tp = System.nanoTime()
    w.prewarm()
    val prewarmS = secs(tp)
    val artifactBytes = dirBytes(new File(graft.Scratch.dir(), "mv"))
    val tw = System.nanoTime()
    val warm = w.warmup()
    val warmupS = secs(tw)

    // Empty-job floor: median of five one-row noop jobs (weather tell).
    val floor = median((1 to 5).map { _ =>
      val t = System.nanoTime()
      spark.range(1, 2, 1, 1).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t) / 1e6
    })

    val counters = new Counters(spark)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passOps = mutable.HashMap.empty[Int, Seq[Int]]
    var opId = 0
    val firstOpEpochMs = System.currentTimeMillis()
    val timedStart = System.nanoTime()
    // A run makes a fixed number of passes: --seconds divided by the
    // workload's nominal pass time, so the op set does not depend on
    // how fast the program is. A traced run splits them between
    // untraced and traced passes, at least one of each.
    def passCount(s: Double): Int = math.max(1, math.round(s / c.passSeconds).toInt)
    def runPasses(traced: Boolean, count: Int, first: Int): Int = {
      (first until first + count).foreach { p =>
        w.beforePass(p)
        val ids = mutable.ArrayBuffer.empty[Int]
        val ps = System.nanoTime()
        w.ops(p).foreach { op =>
          opId += 1
          ids += opId
          active.op = opId
          counters.currentOp = opId
          spark.sparkContext.setJobGroup(Counters.GroupPrefix + opId, op.name, false)
          val os = System.nanoTime()
          val err =
            try { active.span("op")(op.run()); None }
            catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
          val dur = secs(os)
          spark.sparkContext.clearJobGroup()
          if (traced) counters.drain()
          ops += Map("id" -> opId, "pass" -> p, "name" -> op.name, "kind" -> op.kind,
            "s" -> dur, "traced" -> traced, "err" -> err)
        }
        val wall = secs(ps)
        passOps(p) = ids.toSeq
        passes += (Map[String, Any]("pass" -> p, "traced" -> traced, "wall_s" -> wall) ++ w.afterPass(p))
      }
      first + count
    }
    if (!c.trace) runPasses(traced = false, passCount(c.seconds), 0)
    else {
      val next = runPasses(traced = false, passCount(c.seconds / 2), 0)
      counters.register()
      active = tracedTrace
      runPasses(traced = true, passCount(c.seconds / 2), next)
      counters.drain()
    }
    val timedS = secs(timedStart)
    val rss = vmHwmMb()

    val layers: Map[String, Double] =
      if (!c.trace) Map.empty
      else Layers(tracedTrace, counters, passes.toSeq, passOps.toMap, epochOffsetNs)

    val oracle = graft.SparkEntry.oracleSql
    val result = Map[String, Any](
      "workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace,
      "cpus" -> c.cpus,
      "start_epoch_ms" -> startEpochMs, "first_op_epoch_ms" -> firstOpEpochMs,
      "setup" -> Map("session_s" -> sessionS, "prewarm_s" -> prewarmS,
        "warmup_s" -> warmupS, "artifact_bytes" -> artifactBytes),
      "job_floor_ms" -> floor,
      "timed_s" -> timedS,
      "rss_hwm_mb" -> rss,
      "warmup" -> warm.map { case (n, e) => Map("name" -> n, "err" -> e) },
      "passes" -> passes.toSeq,
      "ops" -> ops.toSeq,
      "per_layer" -> layers,
      "oracle_sql" -> oracle) ++ w.extra
    Files.writeString(Paths.get(c.out), Json(result))
    if (c.trace) {
      val spans = tracedTrace.all.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end)))
      Files.writeString(Paths.get(c.out + ".spans.jsonl"), spans.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}

/** Opens a span on whichever trace is active. */
trait Spanner { def apply[T](name: String)(body: => T): T }

/** Registered queries run by name: build the lazy plan, then materialize
  * it through the noop sink. The warm-up execution writes each result
  * as parquet for the correctness check.
  */
final class Queries(spark: SparkSession, c: Main.Conf, span: Spanner) extends Workload {
  private val all = graft.SparkEntry.queries
  val names: Seq[String] = c.queries

  private def order(p: Int): Seq[String] =
    new scala.util.Random(c.seed * 7919 + p).shuffle(names)

  def prewarm(): Unit = graft.SparkEntry.prewarmArtifacts(spark, c.data)

  private def build(n: String): DataFrame =
    span(if (n.startsWith("st_")) "streaming.call" else "build") {
      all.getOrElse(n, throw new NoSuchElementException(s"query $n is not registered"))(spark, c.data)
    }

  /** Queries without oracle SQL run twice, so the check can compare the two results. */
  def warmup(): Seq[(String, Option[String])] = {
    val oracle = graft.SparkEntry.oracleSql.keySet
    order(-1).map { n =>
      val err =
        try {
          val reps = if (oracle(n)) Seq("") else Seq("", "__rep2")
          reps.foreach(r => build(n).coalesce(1).write.mode("overwrite").parquet(s"${c.work}/results/$n$r"))
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      (n, err)
    }
  }

  def ops(p: Int): Seq[Op] = order(p).map { n =>
    Op(n, n.takeWhile(_ != '_'), () => {
      val df = build(n)
      span("exec")(df.write.mode("overwrite").format("noop").save())
    })
  }

  override def extra: Map[String, Any] = Map("queries" -> names)
}
