package perfbench

import org.apache.spark.sql.SparkSession

import graft.model.MetricPoint
import graft.sources.PointStore

/** Entry point of the benchmark JVM; `run.py` drives one mode per process.
  * Every mode prints one JSON object as its last stdout line. */
object Main {
  def main(args: Array[String]): Unit = {
    val res: String = args.toList match {
      case "setup" :: workload :: seed :: dir :: Nil =>
        Setup.run(workload, seed.toLong, dir)
      case "dashboard" :: seed :: seconds :: port :: Nil =>
        Dashboard.run(seed.toLong, seconds.toDouble, port.toInt)
      case (w @ ("ingest" | "ingest_serial")) :: seed :: seconds :: httpPort :: tcpPort :: dataDir :: Nil =>
        Ingest.run(w, seed.toLong, seconds.toDouble, httpPort.toInt, tcpPort.toInt, dataDir)
      case "rollup" :: seed :: seconds :: dir :: trace :: Nil =>
        Rollup.run(seed.toLong, seconds.toDouble, dir, trace == "1")
      case "trace-dashboard" :: seed :: seconds :: dir :: Nil =>
        Traced.dashboard(seed.toLong, seconds.toDouble, dir)
      case (w @ ("trace-ingest" | "trace-ingest_serial")) :: seed :: seconds :: dir :: Nil =>
        Traced.ingest(w.stripPrefix("trace-"), seed.toLong, seconds.toDouble, dir)
      case "selftest" :: Nil => SelfTest.run()
      case _ =>
        System.err.println(s"unknown mode: ${args.mkString(" ")}")
        sys.exit(2)
    }
    println(res)
    System.out.flush()
    // nothing is left to clean up (Spark's scratch space is in the run's
    // work directory): skip the shutdown hooks' orderly Spark stop
    Runtime.getRuntime.halt(0)
  }

  private val started = System.nanoTime()
  /** Progress on stderr, with seconds since the JVM's main started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%6.1fs] $msg")

  def spark(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Minimal JSON rendering for flat and nested result maps. */
  def json(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${json(k.toString)}:${json(x)}" }.sortBy(identity).mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => json(other.toString)
  }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Store generation: the closed-form points, generated inside Spark tasks and
  * written through `PointStore.write` / `PointStore.writeMeta`. */
object Setup {
  def universe(workload: String, seed: Long): Universe = workload match {
    case "dashboard" => Universe.dashboard(seed)
    case "ingest" | "ingest_serial" => Universe.ingestBase(seed)
    case "rollup" => Universe.rollup(seed)
  }

  /** One generating task per (metric, day), so each hour partition of the
    * store holds one file. */
  def write(spark: SparkSession, u: Universe, dataDir: String, metaDir: String): Unit = {
    import spark.implicits._
    val uu = u
    val perDay = (Rollup.Day / u.stepMs).toInt
    val days = (u.steps + perDay - 1) / perDay
    val points = spark.range(0, u.metrics.length * days, 1, u.metrics.length * days).as[Long].flatMap { unit =>
      val (m, d) = ((unit / days).toInt, (unit % days).toInt)
      for (s <- uu.byMetric(uu.metrics(m)).iterator; k <- (d * perDay) until math.min(uu.steps, (d + 1) * perDay))
        yield MetricPoint(s.metric, uu.ts(k), uu.value(s, k), s.tags, s.viz)
    }.toDF()
    PointStore.write(points, dataDir)
    PointStore.writeMeta(points, metaDir)
  }

  /** Write the store once, timed, into `dir/store`. Repeating the write to
    * take a median would triple the run's set-up (a cold-JVM write takes
    * 10-15 s); `setup_s` gets the widest bound instead. */
  def run(workload: String, seed: Long, dir: String): String = {
    val spark = Main.spark()
    val u = universe(workload, seed)
    val t0 = System.nanoTime()
    write(spark, u, s"$dir/store/data", s"$dir/store/meta")
    Main.json(Map("write_s" -> (System.nanoTime() - t0) / 1e9, "points" -> u.points,
      "data" -> s"$dir/store/data", "meta" -> s"$dir/store/meta", "users" -> Users.flag))
  }
}
