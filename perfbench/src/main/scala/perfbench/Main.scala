package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One closed-loop operation: `run` is timed, `check` runs after the timer. */
final case class Op(kind: String, rows: Long, run: () => Any, check: Any => Check)

/** An output check. `ok = None` defers the verdict to the DuckDB oracle in
  * `oracle.py`, which recomputes the result whose `digest` is recorded here.
  */
final case class Check(ok: Option[Boolean], digest: String = "", detail: String = "")

/** A workload over the inputs `gen.py` wrote under `dir`: a warm-up and the
  * op sequence of the closed loop.
  */
abstract class Workload(val spark: SparkSession, val dir: String, val t: Trace) {
  /** Ops per round of the mix; a window always runs whole rounds. */
  def mix: Int = 1
  def warmUp(): Unit
  def op(i: Int): Op
  /** Whether the mix itself runs `ref_join`; if not, probes after the window
    * measure `join_gibs`.
    */
  def hasRefJoin: Boolean = false
  /** Metrics that need the whole window (bytes written, state size, ...). */
  def finish(): Map[String, Any] = Map.empty
}

/** Entry point: `perfbench.Main --workload W --data DIR --seconds S --trace 0|1
  * --out FILE`. Starts the session, warms up, runs the timed closed loop (one
  * client; each op waits for the previous one), and writes one JSON record of
  * every op, the set-up times and the layer metrics to `--out`. `run.py`
  * generates the inputs and turns the record into the metrics it prints.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val data = new File(a("data")).getAbsolutePath
    val cores = math.min(Cores, Runtime.getRuntime.availableProcessors())
    val trace = new Trace(traced)

    val t0 = System.nanoTime()
    val spark = graft.Engine.session(cores)
    val t1 = System.nanoTime()
    val w = Workloads(workload, spark, data, trace)
    w.warmUp()
    trace.endOp()
    val setup = Map("session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (System.nanoTime() - t1) / 1e9)
    if (traced) spark.sparkContext.addSparkListener(trace.listener)

    // The timed window: op walls only; checks run between ops, off the clock.
    // A window ends at a whole round of the mix, so every run times the same
    // op composition. A traced run splits its time between an untraced window
    // and a traced one after it, so it takes about as long as an untraced run.
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    var i = 0
    val ops = Vector.newBuilder[Map[String, Any]]
    val tracedOps = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    val windowSeconds = if (traced) seconds / 2 else seconds
    val minOps = (if (traced) 1 else MinRounds) * w.mix
    def window(tracedOp: Boolean): Unit = {
      var clock = 0.0
      var n = 0
      while (clock < windowSeconds || n < minOps || n % w.mix != 0) {
        val o = w.op(i)
        trace.beginOp(i, tracedOp)
        val gc0 = gcMs
        val t0 = System.nanoTime()
        val res = Try(trace.span(s"op.${o.kind}")(o.run()))
        val wall = (System.nanoTime() - t0) / 1e9
        val gc = gcMs - gc0
        trace.endOp()
        if (tracedOp) tracedOps += ((wall, gc))
        clock += wall
        ops += opRecord(i, o, wall, res, tracedOp, probe = false) + ("gc_s" -> gc / 1000.0)
        i += 1
        n += 1
      }
    }
    val tw = System.nanoTime()
    window(tracedOp = false)
    val tp = System.nanoTime()
    val heapLive = liveHeapMb()
    if (traced) window(tracedOp = true)
    else if (!w.hasRefJoin) ops ++= probeJoin(spark, data, trace, first = i)
    val extra = w.finish()
    val phases = Map("window_s" -> (tp - tw) / 1e9, "after_window_s" -> (System.nanoTime() - tp) / 1e9)

    val layers = if (traced) Layers.metrics(spark, trace, tracedOps.toSeq, cores, ops.result(), extra) else Map.empty
    val rec = Map(
      "workload" -> workload, "seconds" -> seconds, "trace" -> traced,
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "data_fs" -> Try(java.nio.file.Files.getFileStore(new File(data).toPath).`type`()).getOrElse("unknown")),
      "setup" -> setup, "phases" -> phases, "heap_live_mb" -> heapLive,
      "extra" -> extra, "layers" -> layers, "layer_units" -> Layers.Units.map { case (k, u) => Seq(k, u) },
      "ops" -> ops.result())
    Json.write(new File(a("out")), rec)
    if (traced) {
      val pw = new java.io.PrintWriter(new File(a("out") + ".spans.jsonl"))
      try trace.jsonLines.foreach(pw.println) finally pw.close()
    }
    spark.stop()
  }

  val JoinProbes = 3

  /** Rounds an untraced window holds however short `--seconds` is. The first
    * round after warm-up still pays some just-in-time compilation, so each op
    * kind also gets a warm op; `incremental_mv`, whose 4-op cycle takes about
    * 10 s, always times exactly these two rounds.
    */
  val MinRounds = 2

  /** Session threads. On a 4-core host, two leave the JIT compiler, the
    * collector and the host's other work a core of their own; against four,
    * this narrowed the run-to-run spread of most metrics.
    */
  val Cores = 2

  /** One op's entry in the record; the check runs here, off the clock. A
    * probe is counted in attempted/failed but not in the latency metrics.
    */
  private def opRecord(i: Int, o: Op, wall: Double, res: Try[Any], traced: Boolean, probe: Boolean): Map[String, Any] = {
    val t0 = System.nanoTime()
    val chk = res match {
      case Success(v) => Try(o.check(v)).fold(e => Check(Some(false), detail = s"check threw: $e"), identity)
      case Failure(e) => Check(Some(false), detail = s"op threw: $e")
    }
    Map("i" -> i, "kind" -> o.kind, "wall_s" -> wall, "check_s" -> (System.nanoTime() - t0) / 1e9, "rows" -> o.rows,
      "traced" -> traced, "probe" -> probe,
      "ok" -> chk.ok.map(Boolean.box).orNull, "digest" -> chk.digest, "detail" -> chk.detail)
  }

  /** Old-generation occupancy after a full collection at the end of the
    * timed window: the heap the session still holds live once the window's
    * garbage is gone. The first collection lets Spark's context cleaner
    * release what the window dropped.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old Gen"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
  }

  /** `join_gibs`: after the timed window, the reference join runs
    * `JoinProbes` times in the workload's own session, after one untimed run.
    */
  private def probeJoin(spark: SparkSession, data: String, t: Trace, first: Int): Seq[Map[String, Any]] = {
    val rj = new RefJoin(spark, s"$data/ref", t)
    rj.load()
    rj.op().run()
    val probes = (0 until JoinProbes).map { i =>
      val o = rj.op()
      val t0 = System.nanoTime()
      val res = Try(o.run())
      opRecord(first + i, o, (System.nanoTime() - t0) / 1e9, res, traced = false, probe = true)
    }
    rj.unload()
    probes
  }

  /** Bytes of all regular files under `f`. */
  def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  /** Order-insensitive digest of collected rows; `oracle.py` renders DuckDB
    * rows the same way (null as `null`, integers and strings as text).
    */
  def digest(rows: Seq[org.apache.spark.sql.Row]): String = {
    val lines = rows.map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(lines.mkString("\n").getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
  }
}

/** Workload registry. */
object Workloads {
  def apply(name: String, spark: SparkSession, dir: String, t: Trace): Workload =
    name match {
      case "star_olap" => new StarOlap(spark, dir, t)
      case "llm_curation" => new LlmCuration(spark, dir, t)
      case "incremental_mv" => new IncrementalMv(spark, dir, t)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def write(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, render(v))
  }
}
