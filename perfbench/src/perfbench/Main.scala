package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.perfbench.Internals

/** One timed operation of the closed loop. */
final case class Op(kind: String, name: String, durS: Double, queries: Int) {
  def toJson: Map[String, Any] = Map("kind" -> kind, "name" -> name,
    "dur_s" -> durS, "queries" -> queries)
}

/** What a workload hands back: everything the report derives its metrics
  * from, except spans and listener totals, which [[Main]] adds. */
final case class Raw(builds: Seq[Map[String, Double]], warmupS: Double,
                     ops: Seq[Op],
                     attempted: Int, failures: Seq[String],
                     recall: Seq[Double], storedBytes: Long, rawBytes: Long,
                     layer: Map[String, Any])

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val seed: Long, val seconds: Double, val work: Path) {
  def traced: Boolean = tracer.enabled

  /**
   * Builds the workload's layout several times, each in a fresh directory,
   * and keeps only the last: set-up time reports the median build. An
   * untraced run builds three times; a traced run needs the spans of one.
   * Returns each build's part times and the directory kept.
   */
  def buildLayouts(name: String)(build: (Path, Parts) => Unit)
      : (Seq[Map[String, Double]], Path) = {
    var kept = Option.empty[Path]
    val builds = (1 to (if (traced) 1 else 3)).map { r =>
      val dir = work.resolve(s"$name$r")
      val parts = new Parts(tracer)
      val (_, total) = Timing.seconds(tracer.span("setup.build")(
        build(dir, parts)))
      kept.foreach(Timing.delete)
      kept = Some(dir)
      parts.times.toMap + ("total_s" -> total)
    }
    (builds, kept.get)
  }

  /** Times the warm-up calls. They are paid once, on a cold JVM, like a
    * user's first calls; they count in set-up, never in the timed window. */
  def warmup(body: => Unit): Double =
    Timing.seconds(tracer.span("warmup")(body))._2
}

/** Times the named parts of one layout build, each under its own span. */
final class Parts(tracer: Tracer) {
  val times = mutable.Map.empty[String, Double]
  def apply[T](key: String, span: String)(body: => T): T = {
    val (v, dt) = Timing.seconds(tracer.span(span)(body))
    times(key) = dt
    v
  }
}

object Timing {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Removes `root` and everything under it, if it exists. */
  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally s.close()
    }

  /** Bytes of every regular file under `root`, by path relative to it. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        val out = mutable.Map.empty[String, Long]
        s.filter(Files.isRegularFile(_)).forEach(p =>
          out(root.relativize(p).toString) = Files.size(p))
        out.toMap
      } finally s.close()
    }
}

/**
 * The benchmark's JVM side. Runs one workload in a closed loop against the
 * engine's public entry points and writes a raw JSON record; `run.py`
 * derives and prints the metrics. Arguments (all required):
 * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --cores <n>
 * --work <dir> --out <file>`.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    try {
      val traced = a("trace") == "1"
      val listener = new JobListener
      if (traced) spark.sparkContext.addSparkListener(listener)
      val ctx = new Ctx(spark, new Tracer(spark.sparkContext, traced),
        a("seed").toLong, a("seconds").toDouble, work)
      val wallStart = System.nanoTime()
      val raw = workload match {
        case "refine_batch" => RefineWorkload.run(ctx)
        case "serve_mutating" => ServeWorkload.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      val wallS = (System.nanoTime() - wallStart) / 1e9
      if (traced) Internals.drainListenerBus(spark.sparkContext)
      val record = Map(
        "workload" -> workload, "seed" -> ctx.seed, "traced" -> traced,
        "cores" -> cores, "seconds" -> ctx.seconds, "wall_s" -> wallS,
        "builds" -> raw.builds, "warmup_s" -> raw.warmupS,
        "ops" -> raw.ops.map(_.toJson),
        "attempted" -> raw.attempted, "failures" -> raw.failures,
        "recall" -> raw.recall, "stored_bytes" -> raw.storedBytes,
        "raw_bytes" -> raw.rawBytes, "layer" -> raw.layer,
        "spans" -> ctx.tracer.spans.map(_.toJson),
        "jobs" -> listener.jobsJson, "groups" -> listener.groupsJson)
      Files.write(Paths.get(a("out")),
        Json(record).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
