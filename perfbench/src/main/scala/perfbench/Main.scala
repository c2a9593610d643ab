package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What a workload sees: the session, the recorder, its seed and size. */
final case class Ctx(spark: SparkSession, rec: Recorder, seed: Long, tiny: Boolean) {
  def pick(full: Int, small: Int): Int = if (tiny) small else full
}

/** A closed-loop workload: one client thread issues calls one after
  * another; the next call starts only after the previous one returned.
  * The loop runs whole rounds, each a fixed sequence of call kinds (the
  * keys and rows come from the seed), so every run measures the same mix.
  */
trait Workload {
  /** Generate the seeded inputs and build the tables under `dir`. */
  def setup(dir: Path): Unit
  /** Calls made once before timing (first-use class loading and codegen). */
  def warmUp(): Unit
  /** One round of the loop. */
  def round(): Unit
  /** Output checks after the timed loop, reported through `rec.check`. */
  def verify(): Unit
  /** Values for the result file only (not metrics). */
  def details: Map[String, Any] = Map.empty
  /** Per-layer values of the workload itself (traced run only). */
  def layerValues: Map[String, Double] = Map.empty
}

object Main {
  val setupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val tiny = a.get("size").contains("tiny")
    val scratch = Paths.get(a("scratch"))

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = if (traced) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      Some(c)
    } else None
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val rec = new Recorder(traced)
    val ctx = Ctx(spark, rec, seed, tiny)
    def make(): Workload = workload match {
      case "upsert_cdc" => new UpsertCdc(ctx)
      case "lookup_scan" => new LookupScan(ctx)
      case "curate_corpus" => new CurateCorpus(ctx)
    }

    // set-up, several times: the median is steadier than one build
    val builds = mutable.Buffer[Double]()
    var w: Workload = null
    (1 to setupReps).foreach { i =>
      val dir = scratch.resolve(s"tables-$i")
      w = make()
      val t0 = System.nanoTime()
      w.setup(dir)
      builds += (System.nanoTime() - t0) / 1e9
      if (i < setupReps) Disk.delete(dir)
    }
    val t0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - t0) / 1e9
    rec.calls.clear(); rec.spans.clear(); rec.spaceSamples.clear()
    val setupS = sessionS + median(builds.toSeq) + warmS

    val heap = new HeapProbe
    heap.sample()
    val gcBefore = gcMs()
    val loopStart = System.nanoTime()
    val deadline = loopStart + seconds * 1000000000L
    var rounds = 0
    while (System.nanoTime() < deadline) {
      rounds += 1
      w.round()
      heap.sample()
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val gcLoop = gcMs() - gcBefore
    val t1 = System.nanoTime()
    w.verify()
    val verifyS = (System.nanoTime() - t1) / 1e9

    val ok = rec.calls.filter(_.ok)
    def lat(kind: String) = ok.filter(_.kind == kind).map(_.ms).toSeq
    val rows = ok.map(_.rows).sum
    val metrics = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "write_p50_ms" -> (pct(lat("write"), 50), "ms"),
      "write_p90_ms" -> (pct(lat("write"), 90), "ms"),
      "read_p50_ms" -> (pct(lat("read"), 50), "ms"),
      "read_p90_ms" -> (pct(lat("read"), 90), "ms"),
      "rows_per_s" -> (rows / (ok.map(_.ms).sum / 1e3), "rows/s"),
      "write_bytes_per_row" -> (ok.map(_.bytesWritten).sum.toDouble / rows, "B/row"),
      "space_amp" -> (median(rec.spaceSamples.toSeq), "ratio"),
      "heap_peak_mb" -> (heap.peakMb, "MiB"))

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot(kv => kv._1.contains("dir") || kv._1.contains("app.id") ||
        kv._1.contains("driver.port") || kv._1.contains("startTime"))
    val layer: Map[String, Double] = counters.map { c =>
      val wl = w.layerValues
      spark.stop() // drains the listener bus before attribution
      Layers.report(rec.spans.toSeq, c.attribute(rec.spans.toSeq), gcLoop) ++ wl
    }.getOrElse(Map.empty)
    if (!traced) spark.stop()

    val attempted = rec.attempted
    val failed = rec.failures.size
    val reported =
      if (traced) Layers.names.map(n => n -> (layer.getOrElse(n, 0.0), Layers.unit(n)))
      else metrics.toSeq
    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(reported.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*))

    val full = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "size" -> (if (tiny) "tiny" else "full"),
      "result" -> result,
      "end_to_end" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "samples" -> Json.obj("write" -> lat("write").size, "read" -> lat("read").size,
        "setup_builds_s" -> builds.toSeq, "session_s" -> sessionS, "warm_up_s" -> warmS,
        "loop_s" -> loopS, "rounds" -> rounds, "verify_s" -> verifyS, "space_samples" -> rec.spaceSamples.size,
        "calls_by_span" -> Json.obj(rec.calls.groupBy(_.span).toSeq.sortBy(_._1)
          .map { case (k, v) => k -> v.size }: _*)),
      "failures" -> rec.failures.toSeq,
      "calls" -> rec.calls.map(c => Json.obj("span" -> c.span, "kind" -> c.kind,
        "ms" -> c.ms, "rows" -> c.rows, "bytes_written" -> c.bytesWritten, "ok" -> c.ok)),
      "details" -> Json.obj(w.details.toSeq.sortBy(_._1): _*),
      "per_layer" -> Json.obj(layer.toSeq.sortBy(_._1): _*),
      "provenance" -> Json.obj(
        "nproc" -> cores, "heap" -> a.getOrElse("heap", ""),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version, "source_sha256" -> a.getOrElse("source-sha256", ""),
        "git_commit" -> a.getOrElse("git-commit", ""),
        "spark_conf" -> Json.obj(conf: _*)),
      "spans" -> (if (traced) Layers.spanRecords(rec.spans.toSeq) else Nil))
    a.get("result").foreach(f => Files.writeString(Paths.get(f), full.s))
    metrics.foreach { case (k, (v, u)) => println(f"$k%-22s $v%14.4f $u") }
    println(s"samples: ${lat("write").size} writes, ${lat("read").size} reads; " +
      s"attempted $attempted, failed $failed")
    println(result)
    sys.exit(if (failed == 0) 0 else 1)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile (0 for no samples). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
}

/** Live driver heap after a full collection, sampled between calls; the
  * run reports the peak. The later collections run after Spark's context
  * cleaner has released what the earlier ones found unreachable.
  */
final class HeapProbe {
  private var peak = 0L
  def sample(): Unit = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}

/** Minimal JSON writer for the result line and file. */
object Json {
  final class Raw(val s: String) { override def toString: String = s }
  def obj(kvs: (String, Any)*): Raw =
    new Raw(kvs.map { case (k, v) => s"${str(k)}: ${enc(v)}" }.mkString("{", ", ", "}"))
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def enc(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => enc(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).s
    case xs: Iterable[_] => xs.map(enc).mkString("[", ", ", "]")
    case null => "null"
    case o => str(o.toString)
  }
}
