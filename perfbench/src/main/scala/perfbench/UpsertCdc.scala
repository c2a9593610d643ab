package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Appends, Scd2}
import graft.tables.{ManagedTable, Merge}

final case class FactRow(key: Long, ver: Long, amount: Double, cat: String, note: String)
final case class DimRow(dkey: Long, attr1: String, attr2: Int, is_current: Boolean,
                        effective_time: Long, end_time: Option[Long])

/** upsert_cdc: the write path. A key-sorted fact table with change-data
  * capture and deletion vectors takes change batches through MERGE
  * (update, insert and matched delete), each followed by point reads and
  * a `changes()` read; each round then runs an SCD2 dimension upsert, an
  * append-without-duplicates, a predicate delete, and OPTIMIZE + VACUUM +
  * log cleanup. Update keys are recency-skewed: all but a few fall in the
  * newest keys (the last files).
  *
  * The expected table is a last-write-wins model kept on the driver
  * (key -> version, -1 for deleted) and rebuilt as a plain DataFrame at
  * the end; row values are pure functions of (key, version, seed).
  */
object UpsertCdc {
  /** The fact row for key `k` at version `v`: a pure function, shared by
    * the generator, the tasks that build the rows and the model.
    */
  def row(k: Long, v: Long, seed: Long): FactRow = FactRow(k, v,
    ((k * 7919L + v * 104729L + seed) % 100000L) / 100.0, "c" + ((k + v) % 16),
    java.lang.Long.toHexString(k * 31 + v))
}

final class UpsertCdc(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  private val initialRows = pick(100000, 20000)
  private val initialFiles = pick(32, 4)
  private val mergeRows = pick(1000, 100)
  private val dimKeys = pick(20000, 500)
  private val dimRows = pick(500, 50)
  private val nodupRows = pick(500, 50)
  private val oldKeys = 4 // per batch; the other touched keys are recent
  private val recentKeys = initialRows / 50 // must exceed the touched keys per batch
  // MERGEs are most of a round's writes, so the write median is a MERGE
  private val mergesPerRound = 5
  private val lookupsPerMerge = 2
  private val retainVersions = 8

  private val rnd = new scala.util.Random(seed)
  private var fact: ManagedTable = _
  private var dim: ManagedTable = _
  private var factRoot: Path = _
  private var dimRoot: Path = _
  // the model: version per key, -1 for absent
  private var ver = Array.fill(initialRows)(0L)
  private var nextKey = initialRows.toLong
  private val dimAttr = mutable.Map[Long, Int]()
  private var stamp = 0L // version stamp of the latest change batch
  private var lastChanged: Seq[Long] = Nil

  import UpsertCdc.row
  private def rows(kv: DataFrame): DataFrame = {
    val s = seed
    kv.as[(Long, Long)].map { case (k, v) => row(k, v, s) }.toDF()
  }
  private def dimRow(k: Long, code: Int, t: Long): DimRow =
    DimRow(k, s"a$code", code % 1000, is_current = true, t, None)

  private def setVer(k: Long, v: Long): Unit = {
    if (k >= ver.length) ver = java.util.Arrays.copyOf(ver, math.max(ver.length * 2, k.toInt + 1))
    ver(k.toInt) = v
  }
  private def live(k: Long): Boolean = k < ver.length && ver(k.toInt) >= 0 && k < nextKey

  private def roots: Seq[Path] = Seq(factRoot, dimRoot)

  def setup(dir: Path): Unit = {
    factRoot = dir.resolve("fact"); dimRoot = dir.resolve("dim")
    val base = spark.range(0, initialRows, 1, initialFiles)
      .select(col("id").as("key"), lit(0L).as("ver"))
    fact = ManagedTable.create(rows(base), factRoot.toString, properties = Map(
      ManagedTable.cdfPropKey -> "true", ManagedTable.dvPropKey -> "true"))
    (0 until dimKeys).foreach(k => dimAttr(k.toLong) = rnd.nextInt(1000000))
    val dims = (0 until dimKeys).map(k => dimRow(k, dimAttr(k.toLong), 0L))
    dim = ManagedTable.create(dims.toDF().repartition(1), dimRoot.toString)
  }

  /** `n` distinct keys: [[oldKeys]] old ones, one in each of [[oldKeys]]
    * equal slices of the key space (so they touch about as many files in
    * every run), the rest among the newest [[recentKeys]].
    */
  private def skewedKeys(n: Int): Seq[Long] = {
    require(n - oldKeys < recentKeys / 2, s"$n keys do not fit the $recentKeys recent keys")
    val out = mutable.LinkedHashSet[Long]()
    val slice = (nextKey - recentKeys) / oldKeys
    (0 until math.min(n, oldKeys)).foreach(i => out += i * slice + (rnd.nextDouble() * slice).toLong)
    while (out.size < n) out += nextKey - 1 - rnd.nextInt(recentKeys)
    out.toSeq
  }

  /** No warm-up: a round is long, and its first MERGE is the cold one. */
  def warmUp(): Unit = ()

  def round(): Unit = {
    (1 to mergesPerRound).foreach { _ =>
      merge()
      (1 to lookupsPerMerge).foreach(_ => lookup())
      changes()
    }
    sideWrites()
    maintain()
  }

  /** MERGE: updates and matched deletes of skewed keys, plus inserts. */
  private def merge(): Unit = {
    stamp += 1
    val v = stamp
    val touched = skewedKeys(mergeRows * 8 / 10)
    val inserted = (0 until mergeRows - touched.size).map(i => nextKey + i)
    val ops = touched.map(k => (k, if (rnd.nextInt(8) == 0) "D" else "U")) ++
      inserted.map(k => (k, "I"))
    val src = rows(ops.map(o => (o._1, v)).toDF("key", "ver"))
      .join(ops.toDF("key", "op"), "key")
    val merged = filesRewritten(fact, "tables.merge")(rec.write("tables.merge", ops.size, factRoot) {
      Merge.into(fact.toDF, "t").using(src, "s", "t.key = s.key")
        .whenMatchedDelete("s.op = 'D'")
        .whenMatchedUpdate(Map("ver" -> "s.ver", "amount" -> "s.amount",
          "cat" -> "s.cat", "note" -> "s.note"))
        .whenNotMatchedInsert("s.op <> 'D'", Map("key" -> "s.key", "ver" -> "s.ver",
          "amount" -> "s.amount", "cat" -> "s.cat", "note" -> "s.note"))
        .execute(fact)
    })
    if (merged) {
      nextKey += inserted.size
      ops.foreach { case (k, op) => setVer(k, if (op == "D") -1L else v) }
      lastChanged = ops.map(_._1)
    }
    rec.sampleSpace(roots, fact.detail.sizeInBytes + dim.detail.sizeInBytes)
  }

  /** A point read of a key the last merge touched. */
  private def lookup(): Unit = if (lastChanged.nonEmpty) {
    val k = lastChanged(rnd.nextInt(lastChanged.size))
    rec.read("tables.lookup") {
      val got = rec.sink(fact.toDFWhere(s"key = $k"))
      val want = if (live(k)) Rows.hashAll(Seq(rowValues(k))) else (0L, 0L)
      rec.check(got == want, s"fact lookup key=$k: got $got, want $want")
    }
  }

  private def changes(): Unit = {
    val to = fact.latestVersion
    val from = math.max(0L, to - 3)
    rec.read("tables.changes") {
      val (_, n) = rec.sink(fact.changes(from, to))
      rec.check(n > 0, s"changes($from, $to) is empty")
    }
  }

  private def rowValues(k: Long): Seq[Any] = {
    val r = row(k, ver(k.toInt), seed)
    Seq(r.key, r.ver, r.amount, r.cat, r.note)
  }

  private def sideWrites(): Unit = {
    stamp += 1
    val v = stamp
    // SCD2: new attributes for distinct dimension keys; one in ten unchanged
    val dkeys = mutable.LinkedHashSet[Long]()
    while (dkeys.size < dimRows) dkeys += rnd.nextInt(dimKeys).toLong
    val codes = dkeys.toSeq.map(k => k ->
      (if (rnd.nextInt(10) == 0) dimAttr(k) else rnd.nextInt(1000000)))
    val updates = codes.map { case (k, c) => dimRow(k, c, v) }.toDF()
      .select("dkey", "attr1", "attr2", "effective_time")
    if (filesRewritten(dim, "operators.scd2")(rec.write("operators.scd2", dimRows, dimRoot) {
      Scd2.upsert(dim, updates, "dkey", Seq("attr1", "attr2"))
    })) codes.foreach { case (k, c) => dimAttr(k) = c }

    // append without duplicates: half existing keys (dropped), half new
    val old = skewedKeys(nodupRows / 2)
    val fresh = (0 until nodupRows - old.size).map(i => nextKey + i)
    val batch = rows((old ++ fresh).map(k => (k, v)).toDF("key", "ver"))
    if (rec.write("operators.append_nodup", nodupRows, factRoot) {
      Appends.appendWithoutDuplicates(fact, batch, Seq("key"))
    }) {
      old.filterNot(live).foreach(setVer(_, v))
      fresh.foreach(setVer(_, v))
      nextKey += fresh.size
    }

    // predicate delete that no file bounds can prune (deletion vectors)
    val (c, m) = (rnd.nextInt(16), rnd.nextInt(1000))
    if (rec.write("tables.delete", 0, factRoot) {
      fact.delete(s"cat = 'c$c' AND key % 1000 = $m")
    }) (0L until nextKey).foreach { k =>
      if (k % 1000 == m && live(k) && (k + ver(k.toInt)) % 16 == c) setVer(k, -1L)
    }
  }

  /** OPTIMIZE (key-sorted, back to the initial file count) + VACUUM +
    * log cleanup, as one call.
    */
  private def maintain(): Unit = {
    var reclaimed = 0L
    var rewritten = 0L
    rec.write("tables.maintain", 0, factRoot) {
      val bytes = fact.detail.sizeInBytes
      val before = if (rec.traced) Disk.listing(Seq(factRoot)) else Map.empty[Path, (Long, Long)]
      rec.span("tables.optimize") {
        fact.optimize(targetFileSizeBytes = math.max(1L, bytes / initialFiles), sortBy = Seq("key"))
      }
      if (rec.traced) rewritten = Disk.written(before, Disk.listing(Seq(factRoot)))
      reclaimed = rec.span("tables.vacuum") {
        fact.vacuum(retainVersions = retainVersions, minAgeMillis = 0L)
      }._2
      rec.span("tables.cleanup_log")(fact.cleanupLog(keepVersions = retainVersions))
    }
    if (rec.traced) rec.lastSpan("tables.maintain").foreach { s =>
      s.extras("bytes_rewritten") = rewritten.toDouble
      s.extras("bytes_reclaimed") = reclaimed.toDouble
    }
    rec.sampleSpace(roots, fact.detail.sizeInBytes + dim.detail.sizeInBytes)
  }

  /** In a traced run, records how many snapshot files the call replaced
    * (listed outside the timed call).
    */
  private def filesRewritten(t: ManagedTable, span: String)(call: => Boolean): Boolean =
    if (!rec.traced) call
    else {
      val before = t.toDF.inputFiles.toSet
      val ok = call
      rec.lastSpan(span).foreach(_.extras("files_rewritten") =
        (before -- t.toDF.inputFiles).size.toDouble)
      ok
    }

  def verify(): Unit = {
    val model = ver.indices.iterator.take(nextKey.toInt)
      .collect { case k if ver(k) != 0L => (k.toLong, ver(k)) }.toSeq
    val changed = model.toDF("key", "ver")
    val expected = spark.range(0, initialRows).select(col("id").as("key"), lit(0L).as("ver"))
      .join(changed.select("key"), Seq("key"), "left_anti")
      .union(changed.filter(col("ver") >= 0))
    val want = rec.sink(rows(expected))
    val got = rec.sink(fact.toDF)
    rec.check(got == want, s"fact table hash/count $got, model $want")

    val d = dim.toDF
    val badKeys = d.filter(col("is_current")).groupBy("dkey").count()
      .filter(col("count") =!= 1).count()
    rec.check(badKeys == 0, s"$badKeys dimension keys without exactly one current row")
    val cur = rec.sink(d.filter(col("is_current")).select("dkey", "attr1", "attr2"))
    val wantCur = Rows.hashAll(dimAttr.toSeq.map { case (k, c) =>
      val r = dimRow(k, c, 0L); Seq(r.dkey, r.attr1, r.attr2) })
    rec.check(cur == wantCur, s"current SCD2 rows $cur, model $wantCur")
    Seq(fact, dim).foreach { t =>
      val problems = t.fsck()
      rec.check(problems.isEmpty, s"fsck ${t.location}: ${problems.take(3)}")
    }
  }

  override def details: Map[String, Any] = Map(
    "change_batches" -> stamp, "fact_rows" -> ver.iterator.take(nextKey.toInt).count(_ >= 0),
    "fact_files" -> fact.detail.numFiles, "fact_version" -> fact.latestVersion,
    "dim_version" -> dim.latestVersion)
}
