package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._

/** One closed-loop call into graft, timed from invocation to return (for a
  * lazy result: until the sink has materialised it).
  */
final case class Call(kind: String, span: String, ms: Double, rows: Long,
                      bytesWritten: Long, ok: Boolean)

/** A traced interval. `parent` is -1 for a top-level call; `op` is the
  * sequence number of the top-level call it belongs to.
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Long,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  val children = ArrayBuffer[Span]()
  val extras = scala.collection.mutable.LinkedHashMap[String, Double]()
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Times every call, and when `traced` also keeps spans and the extra
  * per-call counters that cost work to gather (file listings of the
  * snapshot, pruning ratios). Everything stays in memory until the run
  * ends. Directory walks for bytes written run between calls, outside the
  * timed interval, in both modes.
  */
final class Recorder(val traced: Boolean) {
  val calls = ArrayBuffer[Call]()
  val spans = ArrayBuffer[Span]()
  val failures = ArrayBuffer[String]()
  val spaceSamples = ArrayBuffer[Double]()
  private var stack: List[Span] = Nil
  /** Sequence number of the current top-level call (its op id). */
  var op: Long = 0L
  /** Calls and output checks made so far, warm-up included. */
  var attempted = 0L

  /** A child span inside the current call; a no-op when untraced. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), op,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      parent.foreach(_.children += s)
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  /** The span opened most recently by [[span]] (for extras). */
  def lastSpan(name: String): Option[Span] =
    spans.reverseIterator.find(_.name == name)

  private def timed(kind: String, name: String, rows: Long,
                    roots: Seq[Path])(body: => Unit): Boolean = {
    op += 1
    attempted += 1
    val before = if (roots.isEmpty) Map.empty[Path, (Long, Long)] else Disk.listing(roots)
    val t0 = System.nanoTime()
    val ok =
      try { span(name)(body); true }
      catch {
        case e: Exception =>
          failures += s"op $op $name: ${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").take(300)}"
          System.err.println(s"[perfbench] call failed: ${failures.last}")
          false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val after = if (roots.isEmpty) before else Disk.listing(roots)
    val written = Disk.written(before, after)
    calls += Call(kind, name, ms, rows, written, ok)
    if (traced && roots.nonEmpty) lastSpan(name).foreach { s =>
      s.extras("bytes_written") = written.toDouble
      s.extras("log_bytes") =
        Disk.written(before, after.filter(_._1.toString.contains("/_graft_log/"))).toDouble
    }
    ok
  }

  /** A committing call that applies `rows` source rows to tables under `roots`. */
  def write(name: String, rows: Long, roots: Path*)(body: => Unit): Boolean =
    timed("write", name, rows, roots)(body)

  /** A non-committing call; a lazy result is materialised through [[sink]]. */
  def read(name: String)(body: => Unit): Boolean =
    timed("read", name, 0L, Nil)(body)

  /** Order-independent hash and row count of every column of `df`: the
    * full-row xxhash64/bit_xor sink, so column pruning cannot skip work.
    */
  def sink(df: DataFrame): (Long, Long) = span("spark.sink") {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).as("__h"))
      .agg(expr("bit_xor(__h)"), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** Record an output check; a failed one counts in `failed`. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failures += s"op $op check: $what"
      System.err.println(s"[perfbench] check failed: ${failures.last}")
    }
  }

  /** Bytes on disk under `roots` per byte of live snapshot data. */
  def sampleSpace(roots: Seq[Path], liveBytes: Long): Unit =
    if (liveBytes > 0) spaceSamples += Disk.bytes(roots).toDouble / liveBytes
}

object Rows {
  /** The sink's hash of one row, computed on the driver by the same
    * expression the sink evaluates, for expected-result checks.
    */
  def hash(values: Any*): Long =
    XxHash64(values.map(Literal(_)), 42L).eval().asInstanceOf[Long]

  def hashAll(rows: Iterable[Seq[Any]]): (Long, Long) =
    (rows.foldLeft(0L)((h, r) => h ^ hash(r: _*)), rows.size.toLong)
}

object Disk {
  /** path -> (size, mtime) of every regular file under `roots`. */
  def listing(roots: Seq[Path]): Map[Path, (Long, Long)] =
    roots.filter(Files.isDirectory(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toVector
      finally s.close()
    }.toMap

  def bytes(roots: Seq[Path]): Long = listing(roots).valuesIterator.map(_._1).sum

  /** Bytes of files created or rewritten between two listings. */
  def written(before: Map[Path, (Long, Long)], after: Map[Path, (Long, Long)]): Long =
    after.iterator.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}
