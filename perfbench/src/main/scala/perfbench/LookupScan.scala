package perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_json}
import graft.tables.{BloomSkip, ManagedTable}

final case class LookupRow(key: Long, bkey: String, grp: Int, value: Double)

/** lookup_scan: the read path over a long history. Set-up builds a table
  * with a history of versions (small appends, deletion-vector deletes, a
  * key-sorted OPTIMIZE midway and a bloom-indexed string column); the loop
  * is point lookups by key and by the bloom column, key ranges, range
  * reads at an old version, metadata calls, and a small append after
  * every four or five reads. Keys are uniform. Every read is checked
  * against the driver-side model: key -> (version added, version deleted).
  */
object LookupScan {
  private def mix(x: Long): Long = { // splitmix64 finaliser: a bijection
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The row of key `k`: `bkey` is unique per key and unordered by it. */
  def row(k: Long, seed: Long): LookupRow = LookupRow(k, f"b${mix(k ^ seed)}%016x",
    java.lang.Math.floorMod(mix(k + 1), 1000L).toInt,
    java.lang.Math.floorMod(mix(k + seed), 100000L) / 100.0)
}

final class LookupScan(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  private val initialRows = pick(50000, 10000)
  private val initialFiles = pick(16, 4)
  private val historyVersions = 10
  private val appendRows = pick(200, 20)
  private val deleteEvery = 4
  private val optimizeAt = historyVersions * 2 / 3
  private val rangeWidth = 200

  private val rnd = new scala.util.Random(seed)
  private var t: ManagedTable = _
  private var root: Path = _
  private val maxKeys = initialRows + (historyVersions + 4000) * appendRows
  private val added = Array.fill(maxKeys)(Int.MaxValue)
  private val deleted = Array.fill(maxKeys)(Int.MaxValue)
  private var nextKey = 0
  private var version = 0
  private var travels = 0

  import LookupScan.row
  private def values(k: Long): Seq[Any] = { val r = row(k, seed); Seq(r.key, r.bkey, r.grp, r.value) }
  private def rowsFor(from: Long, until: Long, parts: Int): DataFrame = {
    val s = seed
    spark.range(from, until, 1, parts).as[Long].map(k => row(k, s)).toDF()
  }
  private def liveAt(k: Long, v: Int): Boolean =
    k < nextKey && added(k.toInt) <= v && v < deleted(k.toInt)

  private def roots: Seq[Path] = Seq(root)

  private def appendNew(n: Int): Unit = {
    t.append(rowsFor(nextKey, nextKey + n, 1))
    version += 1
    (nextKey until nextKey + n).foreach(added(_) = version)
    nextKey += n
  }

  def setup(dir: Path): Unit = {
    root = dir.resolve("events")
    t = ManagedTable.create(rowsFor(0, initialRows, initialFiles), root.toString,
      properties = Map(ManagedTable.dvPropKey -> "true",
        BloomSkip.columnsPropKey -> "bkey", BloomSkip.ndvPropKey -> "50000"))
    (0 until initialRows).foreach(added(_) = 0)
    nextKey = initialRows
    while (version < historyVersions) {
      if (version == optimizeAt) {
        t.optimize(targetFileSizeBytes = t.detail.sizeInBytes / initialFiles, sortBy = Seq("key"))
        version += 1
      } else if (version % deleteEvery == deleteEvery - 1) {
        val m = rnd.nextInt(101)
        if (t.delete(s"key % 101 = $m") > 0) {
          version += 1
          (0 until nextKey).foreach(k => if (k % 101 == m && deleted(k) == Int.MaxValue) deleted(k) = version)
        }
      } else appendNew(appendRows)
    }
  }

  private def someKey(): Long = (rnd.nextDouble() * nextKey).toLong

  private def expect(keys: Iterable[Long], v: Int): (Long, Long) =
    Rows.hashAll(keys.filter(liveAt(_, v)).map(values))

  def warmUp(): Unit = Seq("lookup", "bloom", "range", "travel", "meta").foreach(read)

  /** Nine reads of a fixed mix and two small appends. The two slow
    * time-travel reads put the 90th percentile inside one kind of call.
    */
  def round(): Unit = {
    Seq("lookup", "bloom", "range", "travel").foreach(read)
    append()
    Seq("lookup", "bloom", "travel", "range", "meta").foreach(read)
    append()
  }

  private def append(): Unit = {
    rec.write("tables.append", appendRows, root)(appendNew(appendRows))
    rec.sampleSpace(roots, t.detail.sizeInBytes)
  }

  /** A pruned read through `toDFWhere`, checked against the model. */
  private def pruned(span: String, predicate: String, keys: Iterable[Long]): Unit = {
    var df: DataFrame = null
    rec.read(span) {
      df = t.toDFWhere(predicate)
      val got = rec.sink(df)
      rec.check(got == expect(keys, version), s"$predicate at v$version: $got")
    }
    if (rec.traced && df != null) rec.lastSpan(span).foreach { s =>
      val scanned = df.inputFiles.length
      val total = t.detail.numFiles
      s.extras("files_scanned") = scanned.toDouble
      s.extras("skip_ratio") = if (total == 0) 0.0 else 1.0 - scanned.toDouble / total
    }
  }

  private def read(kind: String): Unit = kind match {
    case "lookup" =>
      val k = someKey()
      pruned("tables.lookup", s"key = $k", Seq(k))
    case "bloom" =>
      val k = someKey()
      pruned("tables.bloom_lookup", s"bkey = '${row(k, seed).bkey}'", Seq(k))
    case "range" =>
      val a = someKey()
      pruned("tables.range_scan", s"key BETWEEN $a AND ${a + rangeWidth - 1}", a until a + rangeWidth)
    case "travel" =>
      // alternating fixed distances back, so every run reads the same mix
      // of pre- and post-OPTIMIZE snapshots
      travels += 1
      val v = version - (if (travels % 2 == 0) 3 else 7)
      val a = someKey()
      rec.read("tables.time_travel") {
        val got = rec.sink(t.toDF(v).where(s"key BETWEEN $a AND ${a + rangeWidth - 1}"))
        rec.check(got == expect(a until a + rangeWidth, v), s"range from $a at v$v: $got")
      }
    case "meta" =>
      rec.read("tables.metadata") {
        val latest = t.latestVersion
        val files = t.detail.numFiles
        val (_, versions) = rec.sink(t.history.withColumn("operationMetrics",
          to_json(col("operationMetrics"))))
        rec.check(latest == version && files > 0 && versions == version + 1,
          s"metadata: latest $latest (want $version), $files files, $versions history rows")
      }
  }

  def verify(): Unit = {
    val got = rec.sink(t.toDF)
    rec.check(got == expect(0L until nextKey, version), s"final table $got")
    val problems = t.fsck()
    rec.check(problems.isEmpty, s"fsck: ${problems.take(3)}")
  }

  override def details: Map[String, Any] = Map(
    "version" -> version, "snapshot_files" -> t.detail.numFiles,
    "rows" -> (0L until nextKey).count(liveAt(_, version)))
}
