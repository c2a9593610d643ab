package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.tables.ManagedTable
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Iceberg interop: the hand-coded Avro layer pinned against BYTES
  * constructed independently from the published spec (not our own
  * writer), the zero-copy export -> import round trip, table
  * relocation, the merge-on-read round trip (DV snapshot -> v2
  * position deletes -> DV sidecar), field-id-resolved renamed-column
  * reads, snapshot-scoped time-travel schemas, flat adoption of
  * non-identity transforms, and every documented refusal (equality
  * deletes, malformed manifest content kinds, unknown transforms,
  * transforms whose sources aren't carried, partial-id renames, swap
  * renames, format v3, non-parquet files, metadata/data row-count
  * disagreement, partitioned DV export).
  */
class IcebergSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val dir = new java.io.File(s"target/tmp/iceberg_spec/$name")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(dir); dir.getParentFile.mkdirs()
    dir.getPath
  }

  // ---- Avro layer ------------------------------------------------------

  /** Independent byte construction straight from the Avro spec (zigzag
    * varints, length-prefixed strings, container framing) — validates
    * the DECODER without trusting our encoder.
    */
  test("Avro reader decodes a container hand-built from the spec bytes") {
    val bo = new java.io.ByteArrayOutputStream()
    def vint(v: Long): Unit = { // zigzag + varint, written from the spec
      var n = (v << 1) ^ (v >> 63)
      while ((n & ~0x7fL) != 0) { bo.write(((n & 0x7f) | 0x80).toInt); n >>>= 7 }
      bo.write(n.toInt)
    }
    def str(s: String): Unit = {
      val b = s.getBytes("UTF-8"); vint(b.length.toLong); bo.write(b)
    }
    val schema =
      """{"type":"record","name":"t","fields":[""" +
        """{"name":"a","type":"long"},{"name":"b","type":"string"},""" +
        """{"name":"c","type":["null","int"],"default":null}]}"""
    bo.write(Array[Byte]('O', 'b', 'j', 1)) // magic
    vint(2L) // metadata map: one block of 2 entries
    str("avro.schema"); str(schema)
    str("avro.codec"); str("null")
    vint(0L) // map terminator
    val sync = Array.tabulate[Byte](16)(i => (i + 1).toByte)
    bo.write(sync)
    // one block, two records: (1,"x",null), (-2,"yz",7)
    val block = new java.io.ByteArrayOutputStream()
    val saved = bo.toByteArray
    bo.reset()
    vint(1L); str("x"); vint(0L) // union branch 0 = null
    vint(-2L); str("yz"); vint(1L); vint(7L) // branch 1 = int 7
    val data = bo.toByteArray
    bo.reset(); bo.write(saved)
    vint(2L); vint(data.length.toLong); bo.write(data); bo.write(sync)
    block.close()

    val c = Avro.readContainer(
      new java.io.ByteArrayInputStream(bo.toByteArray))
    assert(c.records.size == 2)
    val r0 = c.records(0).asInstanceOf[Map[String, Any]]
    val r1 = c.records(1).asInstanceOf[Map[String, Any]]
    assert(r0("a") == 1L && r0("b") == "x" && r0("c") == null)
    assert(r1("a") == -2L && r1("b") == "yz" && r1("c") == 7)
  }

  test("Avro writer -> reader round-trips records, arrays, maps, " +
       "unions, enums, fixed; deflate blocks decode") {
    val schema =
      """{"type":"record","name":"t","fields":[
        |{"name":"l","type":"long"},
        |{"name":"d","type":"double"},
        |{"name":"fl","type":"float"},
        |{"name":"bo","type":"boolean"},
        |{"name":"by","type":"bytes"},
        |{"name":"fx","type":{"type":"fixed","name":"f4","size":4}},
        |{"name":"en","type":{"type":"enum","name":"e","symbols":["A","B"]}},
        |{"name":"ar","type":{"type":"array","items":"long"}},
        |{"name":"mp","type":{"type":"map","values":"string"}},
        |{"name":"un","type":["null","string"],"default":null},
        |{"name":"fx2","type":"f4"}]}""".stripMargin.replace("\n", "")
    val rec = Map[String, Any](
      "l" -> 123456789L, "d" -> 3.5, "fl" -> 2.25f, "bo" -> true,
      "by" -> Array[Byte](1, 2), "fx" -> Array[Byte](9, 8, 7, 6),
      "en" -> "B", "ar" -> Vector(1L, -5L, 0L),
      "mp" -> Map("k" -> "v", "k2" -> "w"),
      "un" -> "s", "fx2" -> Array[Byte](4, 3, 2, 1))
    val bo = new java.io.ByteArrayOutputStream()
    Avro.writeContainer(bo, schema, Seq(rec, rec.updated("un", null)))
    val back = Avro.readContainer(
      new java.io.ByteArrayInputStream(bo.toByteArray))
    val b0 = back.records(0).asInstanceOf[Map[String, Any]]
    assert(b0("l") == 123456789L && b0("d") == 3.5 && b0("fl") == 2.25f)
    assert(b0("bo") == true && b0("en") == "B" && b0("un") == "s")
    assert(b0("by").asInstanceOf[Array[Byte]].toSeq == Seq[Byte](1, 2))
    assert(b0("fx").asInstanceOf[Array[Byte]].toSeq == Seq[Byte](9, 8, 7, 6))
    assert(b0("fx2").asInstanceOf[Array[Byte]].toSeq == Seq[Byte](4, 3, 2, 1))
    assert(b0("ar") == Vector(1L, -5L, 0L))
    assert(b0("mp") == Map("k" -> "v", "k2" -> "w"))
    assert(back.records(1).asInstanceOf[Map[String, Any]]("un") == null)

    // deflate: re-frame the same records with a deflate-compressed block
    val plain = bo.toByteArray
    val c0 = Avro.readContainer(new java.io.ByteArrayInputStream(plain))
    val e = new Avro.Encoder()
    e.writeFixed(Array[Byte]('O', 'b', 'j', 1))
    e.writeLong(2L)
    e.writeString("avro.schema"); e.writeBytes(schema.getBytes("UTF-8"))
    e.writeString("avro.codec"); e.writeBytes("deflate".getBytes("UTF-8"))
    e.writeLong(0L)
    val sync = Array.tabulate[Byte](16)(_.toByte)
    e.writeFixed(sync)
    val be = new Avro.Encoder()
    c0.records.foreach(Avro.encode(be, c0.schema, _))
    val raw = be.toBytes
    val defl = {
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 14)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    e.writeLong(c0.records.size.toLong)
    e.writeLong(defl.length.toLong)
    e.writeFixed(defl)
    e.writeFixed(sync)
    val inflated = Avro.readContainer(
      new java.io.ByteArrayInputStream(e.toBytes))
    // Array[Byte] compares by reference — normalize to Seq recursively
    def norm(v: Any): Any = v match {
      case a: Array[Byte] => a.toSeq
      case m: Map[_, _] => m.map { case (k, x) => k -> norm(x) }
      case s: Seq[_] => s.map(norm)
      case x => x
    }
    assert(inflated.records.map(norm) == c0.records.map(norm))
  }

  // ---- export -> import round trips -----------------------------------

  private def ordersDf = {
    val rows = Seq(
      Row(1L, "alice", java.sql.Date.valueOf("2024-01-05"), 10.5, 1),
      Row(2L, "bob", java.sql.Date.valueOf("2024-02-06"), -3.25, 1),
      Row(3L, null, java.sql.Date.valueOf("2024-01-07"), 0.0, 2))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("d", DateType, nullable = true),
      StructField("v", DoubleType, nullable = true),
      StructField("bucket", IntegerType, nullable = true)))
    df(schema, rows)
  }

  test("export -> import round-trips an unpartitioned table exactly, " +
       "zero-copy in both directions") {
    val src = tmp("rt-src"); val ice = tmp("rt-ice"); val dst = tmp("rt-dst")
    val tbl = ManagedTable.create(ordersDf, src)
    val n = Iceberg.exportTable(tbl, ice)
    assert(n >= 1)
    // zero-copy export: no parquet under the iceberg dir
    assert(!Files.walk(Paths.get(ice)).iterator().asScala
      .exists(_.toString.endsWith(".parquet")),
      "export must reference, not copy, the data")
    val back = Iceberg.importTable(spark, ice, dst)
    assertDfEquality(back.toDF, ordersDf)
    assert(back.numRows == 3L)
  }

  test("identity-partitioned export -> import: values land in the " +
       "manifest partition record, and import resolves them via the " +
       "spec's column-projection rule (hive placement — the files " +
       "lack the source column)") {
    val src = tmp("part-src"); val ice = tmp("part-ice")
    val dst = tmp("part-dst")
    val data = ordersDf
    val tbl = ManagedTable.create(data, src, partitionBy = Seq("bucket"))
    Iceberg.exportTable(tbl, ice)
    // the manifest really carries typed identity partition values
    val meta = Paths.get(ice, "metadata")
    val manifest = Avro.readContainer(
      Files.newInputStream(meta.resolve("graft-m0.avro")))
    val pvs = manifest.records.map(_.asInstanceOf[Map[String, Any]])
      .map(_("data_file").asInstanceOf[Map[String, Any]]
        ("partition").asInstanceOf[Map[String, Any]]("bucket"))
    assert(pvs.toSet == Set(1, 2))
    val back = Iceberg.importTable(spark, ice, dst)
    assert(back.partitionColumns == Seq("bucket"),
      "manifest-resolved identity values must become real partitions")
    assertDfEquality(
      back.toDF.select(data.columns.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*),
      data)
  }

  test("a MOVED table still imports: embedded absolute paths re-root " +
       "onto the directory actually being read") {
    val src = tmp("mv-src"); val ice = tmp("mv-ice")
    val moved = tmp("mv-moved"); val dst = tmp("mv-dst")
    // data must live INSIDE the table dir for the move to carry it:
    // import from a clone whose files sit under the iceberg location
    val tbl = ManagedTable.create(ordersDf, src)
    Iceberg.exportTable(tbl, ice)
    // relocate the whole iceberg dir; also relocate the REFERENCED data
    // by first importing (hard links under dst) — instead simply move
    // the metadata dir and keep data where it is: the re-rooting rule
    // applies to paths under the embedded location only, and the
    // manifest-list/manifest paths ARE under it.
    Files.move(Paths.get(ice), Paths.get(moved))
    val back = Iceberg.importTable(spark, moved, dst)
    assertDfEquality(back.toDF, ordersDf)
  }

  test("v1 metadata with inline manifests[] and partition-spec reads") {
    val src = tmp("v1-src"); val ice = tmp("v1-ice"); val dst = tmp("v1-dst")
    val tbl = ManagedTable.create(ordersDf, src)
    Iceberg.exportTable(tbl, ice)
    val meta = Paths.get(ice, "metadata")
    val md = Files.readString(meta.resolve("v1.metadata.json"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(md).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val manifestPath = s"file://${meta.resolve("graft-m0.avro").toAbsolutePath}"
    node.put("format-version", 1)
    node.remove("schemas"); node.remove("current-schema-id")
    node.remove("partition-specs"); node.remove("default-spec-id")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // v1: inline schema + partition-spec + snapshot.manifests
    val schemas = mapper.readTree(md).get("schemas")
    node.set[com.fasterxml.jackson.databind.JsonNode]("schema", schemas.get(0))
    node.set[com.fasterxml.jackson.databind.JsonNode]("partition-spec",
      mapper.createArrayNode())
    val snap = node.get("snapshots").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    snap.remove("manifest-list")
    snap.putArray("manifests").add(manifestPath)
    Files.writeString(meta.resolve("v1.metadata.json"),
      mapper.writeValueAsString(node))
    val back = Iceberg.importTable(spark, ice, dst)
    assertDfEquality(back.toDF, ordersDf)
  }

  // ---- refusals ---------------------------------------------------------

  /** Exports a healthy table, hands its pieces to `doctor`, expects the
    * import to refuse with `needle` in the message.
    */
  private def refusal(name: String, needle: String)(
      doctor: java.nio.file.Path => Unit): Unit = {
    val src = tmp(s"$name-src"); val ice = tmp(s"$name-ice")
    val dst = tmp(s"$name-dst")
    val tbl = ManagedTable.create(ordersDf, src)
    Iceberg.exportTable(tbl, ice)
    doctor(Paths.get(ice, "metadata"))
    val e = intercept[Exception] {
      Iceberg.importTable(spark, ice, dst)
    }
    assert(Option(e.getMessage).exists(_.contains(needle)),
      s"expected '$needle' in: ${e.getMessage}")
  }

  test("a manifest the list calls a DELETE manifest but whose own stamp " +
       "says data refuses (malformed metadata)") {
    refusal("del-ml", "malformed metadata") { meta =>
      val lp = meta.resolve("snap-1-1-graft.avro")
      val c = Avro.readContainer(Files.newInputStream(lp))
      val doctored = c.records.map(_.asInstanceOf[Map[String, Any]])
        .map(_.updated("content", 1))
      val out = Files.newOutputStream(lp)
      try Avro.writeContainer(out, c.schemaJson, doctored)
      finally out.close()
    }
  }

  test("delete-file entries inside a DATA manifest refuse (malformed " +
       "metadata)") {
    refusal("del-df", "inside a DATA manifest") { meta =>
      val mp = meta.resolve("graft-m0.avro")
      val c = Avro.readContainer(Files.newInputStream(mp))
      val doctored = c.records.map(_.asInstanceOf[Map[String, Any]]).map { e =>
        val df0 = e("data_file").asInstanceOf[Map[String, Any]]
        e.updated("data_file", df0.updated("content", 1))
      }
      val extra = c.meta.collect {
        case (k, v) if k.startsWith("partition") || k == "schema" ||
          k == "format-version" || k == "content" =>
          k -> new String(v, "UTF-8")
      }
      val out = Files.newOutputStream(mp)
      try Avro.writeContainer(out, c.schemaJson, doctored, extra)
      finally out.close()
    }
  }

  test("non-identity transforms (bucket) adopt FLAT when the data files " +
       "carry the source column — the layout hint is droppable, footer " +
       "stats provide the pruning") {
    val src = tmp("bkt-src"); val ice = tmp("bkt-ice"); val dst = tmp("bkt-dst")
    val tbl = ManagedTable.create(ordersDf, src)
    Iceberg.exportTable(tbl, ice)
    // doctor a bucket[16] spec field over 'name' (id 2) — the
    // unpartitioned export's files CARRY every column
    val p = Paths.get(ice, "metadata", "v1.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readString(p))
    val fields = node.get("partition-specs").get(0).get("fields")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val f = fields.addObject()
    f.put("name", "name_bucket")
    f.put("transform", "bucket[16]")
    f.put("source-id", 2)
    f.put("field-id", 1001)
    Files.writeString(p, mapper.writeValueAsString(node))
    val back = Iceberg.importTable(spark, ice, dst)
    assert(back.partitionColumns.isEmpty,
      "a transform layout hint must not become a physical partition")
    assertDfEquality(back.toDF, ordersDf)
  }

  test("non-identity transforms refuse when the data files LACK the " +
       "source column (Hive-migrated layout — the transformed value " +
       "alone is unresolvable)") {
    val src = tmp("bktref-src"); val ice = tmp("bktref-ice")
    val dst = tmp("bktref-dst")
    // identity-partitioned export: the files genuinely lack 'bucket'
    val tbl = ManagedTable.create(ordersDf, src, partitionBy = Seq("bucket"))
    Iceberg.exportTable(tbl, ice)
    val p = Paths.get(ice, "metadata", "v1.metadata.json")
    Files.writeString(p, Files.readString(p)
      .replace("\"transform\" : \"identity\"", "\"transform\" : \"bucket[4]\""))
    val e = intercept[IllegalArgumentException] {
      Iceberg.importTable(spark, ice, dst)
    }
    assert(e.getMessage.contains("lacks"), e.getMessage)
    assert(e.getMessage.contains("bucket[4]"), e.getMessage)
  }

  test("refuses format-version 3") {
    refusal("v3", "format-version") { meta =>
      val p = meta.resolve("v1.metadata.json")
      Files.writeString(p, Files.readString(p)
        .replace("\"format-version\" : 2", "\"format-version\" : 3"))
    }
  }

  test("refuses non-parquet data files") {
    refusal("orc", "non-parquet") { meta =>
      val mp = meta.resolve("graft-m0.avro")
      val c = Avro.readContainer(Files.newInputStream(mp))
      val doctored = c.records.map(_.asInstanceOf[Map[String, Any]]).map { e =>
        val df0 = e("data_file").asInstanceOf[Map[String, Any]]
        e.updated("data_file", df0.updated("file_format", "ORC"))
      }
      val out = Files.newOutputStream(mp)
      try Avro.writeContainer(out, c.schemaJson, doctored)
      finally out.close()
    }
  }

  test("refuses when manifests' record_count disagrees with the " +
       "parquet footers (metadata/data integrity)") {
    refusal("rows", "integrity") { meta =>
      val mp = meta.resolve("graft-m0.avro")
      val c = Avro.readContainer(Files.newInputStream(mp))
      val doctored = c.records.map(_.asInstanceOf[Map[String, Any]]).map { e =>
        val df0 = e("data_file").asInstanceOf[Map[String, Any]]
        e.updated("data_file",
          df0.updated("record_count",
            df0("record_count").asInstanceOf[Long] + 5L))
      }
      val out = Files.newOutputStream(mp)
      try Avro.writeContainer(out, c.schemaJson, doctored)
      finally out.close()
    }
  }

  test("deletion-vector snapshots round-trip through v2 POSITION " +
       "DELETES: export writes a spec-shaped delete file + delete " +
       "manifest, import adopts it back into a _graft_dv sidecar") {
    val src = tmp("dv-src"); val ice = tmp("dv-ice"); val dst = tmp("dv-dst")
    val tbl = ManagedTable.create(ordersDf, src,
      properties = Map(ManagedTable.dvPropKey -> "true"))
    tbl.delete("id = 2")
    assert(tbl.currentFileStats.exists(_.dv.isDefined),
      "precondition: the delete must be merge-on-read")
    val n = Iceberg.exportTable(tbl, ice)
    assert(n >= 1)
    // the delete leg is real: a position-delete parquet under data/
    // and a delete manifest in the list
    val delFiles = {
      val s = Files.list(Paths.get(ice, "data"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq
      finally s.close()
    }
    assert(delFiles.size == 1, delFiles.toString)
    val list = Avro.readContainer(Files.newInputStream(
      Paths.get(ice, "metadata", "snap-1-1-graft.avro")))
    val kinds = list.records.map(_.asInstanceOf[Map[String, Any]])
      .map(r => r("content")).toSet
    assert(kinds == Set(0, 1), s"expected data+delete manifests: $kinds")
    // and the delete parquet itself is sorted (file_path, pos) with rows
    val delDf = spark.read.parquet(
      Paths.get(ice, "data", delFiles.head).toString)
    assert(delDf.columns.toSeq == Seq("file_path", "pos"))
    assert(delDf.count() == 1L)
    val back = Iceberg.importTable(spark, ice, dst)
    assertDfEquality(back.toDF, ordersDf.filter("id <> 2"))
    assert(back.numRows == 2L)
    assert(back.currentFileStats.exists(_.dv.isDefined),
      "import must adopt the mask, not rewrite the data")
  }

  test("equality deletes refuse loud (resolving them needs a scan)") {
    val src = tmp("eq-src"); val ice = tmp("eq-ice"); val dst = tmp("eq-dst")
    val tbl = ManagedTable.create(ordersDf, src,
      properties = Map(ManagedTable.dvPropKey -> "true"))
    tbl.delete("id = 2")
    Iceberg.exportTable(tbl, ice)
    val mp = Paths.get(ice, "metadata", "graft-del-m0.avro")
    val c = Avro.readContainer(Files.newInputStream(mp))
    val doctored = c.records.map(_.asInstanceOf[Map[String, Any]]).map { e =>
      val df0 = e("data_file").asInstanceOf[Map[String, Any]]
      e.updated("data_file", df0.updated("content", 2))
    }
    val extra = c.meta.collect {
      case (k, v) if k.startsWith("partition") || k == "schema" ||
        k == "format-version" || k == "content" =>
        k -> new String(v, "UTF-8")
    }
    val out = Files.newOutputStream(mp)
    try Avro.writeContainer(out, c.schemaJson, doctored, extra)
    finally out.close()
    val e = intercept[IllegalArgumentException] {
      Iceberg.importTable(spark, ice, dst)
    }
    assert(e.getMessage.contains("equality deletes"), e.getMessage)
  }

  test("export refuses DV snapshots of PARTITIONED tables (their delete " +
       "manifests would need partition-scoped entries)") {
    val src = tmp("dvpart-src"); val ice = tmp("dvpart-ice")
    val tbl = ManagedTable.create(ordersDf, src,
      partitionBy = Seq("bucket"),
      properties = Map(ManagedTable.dvPropKey -> "true"))
    tbl.delete("id = 2")
    assert(tbl.currentFileStats.exists(_.dv.isDefined))
    val e = intercept[IllegalArgumentException] {
      Iceberg.exportTable(tbl, ice)
    }
    assert(e.getMessage.contains("PARTITIONED"), e.getMessage)
  }

  test("unknown partition transforms still refuse loud") {
    refusal("zorder", "partition transform") { meta =>
      val p = meta.resolve("v1.metadata.json")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(Files.readString(p))
      val fields = node.get("partition-specs").get(0).get("fields")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      val f = fields.addObject()
      f.put("name", "name_z")
      f.put("transform", "zorder")
      f.put("source-id", 2)
      f.put("field-id", 1001)
      Files.writeString(p, mapper.writeValueAsString(node))
    }
  }

  test("snapshot TIME TRAVEL: an explicit snapshot-id imports that " +
       "snapshot; an unknown id fails loud listing what exists") {
    val src = tmp("tt-src"); val ice = tmp("tt-ice")
    val dstCur = tmp("tt-dst-cur"); val dstOld = tmp("tt-dst-old")
    val tbl = ManagedTable.create(ordersDf, src)
    Iceberg.exportTable(tbl, ice)
    val meta = Paths.get(ice, "metadata")
    // snapshot 2 (current) = an EMPTY manifest list; snapshot 1 keeps
    // the data — the classic truncate-after-load history
    val lp = meta.resolve("snap-1-1-graft.avro")
    val c = Avro.readContainer(Files.newInputStream(lp))
    val emptyList = meta.resolve("snap-2-empty.avro")
    val out = Files.newOutputStream(emptyList)
    try Avro.writeContainer(out, c.schemaJson, Nil) finally out.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val p = meta.resolve("v1.metadata.json")
    val node = mapper.readTree(Files.readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("current-snapshot-id", 2L)
    val snaps = node.get("snapshots")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val s2 = snaps.addObject()
    s2.put("snapshot-id", 2L); s2.put("timestamp-ms", 2L)
    s2.put("sequence-number", 2L)
    s2.put("manifest-list", s"file://${emptyList.toAbsolutePath}")
    s2.putObject("summary").put("operation", "delete")
    s2.put("schema-id", 0)
    Files.writeString(p, mapper.writeValueAsString(node))
    // current = empty; time travel to 1 = the data
    assert(Iceberg.importTable(spark, ice, dstCur).toDF.count() == 0)
    assertDfEquality(
      Iceberg.importTable(spark, ice, dstOld, snapshotId = Some(1L)).toDF,
      ordersDf)
    val e = intercept[IllegalArgumentException] {
      Iceberg.snapshot(ice, snapshotId = Some(99L))
    }
    assert(e.getMessage.contains("available: 1, 2"))
  }

  /** A managed table over `ordersDf` whose data files CARRY parquet
    * field ids 1..n (as every Iceberg writer's files do) — optionally
    * only on the first `onlyFirst` columns, to construct the
    * partially-stamped regime.
    */
  private def tableWithFieldIds(src: String,
                                onlyFirst: Int = Int.MaxValue): ManagedTable = {
    val withIds = StructType(ordersDf.schema.fields.zipWithIndex.map {
      case (f, i) =>
        if (i < onlyFirst)
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putLong("parquet.field.id", i + 1L).build())
        else f
    })
    val prev = spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    try ManagedTable.create(
      spark.createDataFrame(ordersDf.collect().toIndexedSeq.asJava,
        withIds), src)
    finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.parquet.fieldId.write.enabled", v)
      case None => spark.conf.unset(
        "spark.sql.parquet.fieldId.write.enabled")
    }
  }

  test("RENAMED columns read BY FIELD ID when every footer stamps " +
       "parquet field ids (the spec's resolution rule): files written " +
       "under the old name serve the renamed column") {
    val src = tmp("ren-src"); val ice = tmp("ren-ice")
    val dst = tmp("ren-dst")
    val tbl = tableWithFieldIds(src)
    Iceberg.exportTable(tbl, ice)
    // the table renames column 'name' (id 2) to 'customer' — files keep
    // the old name under the same id
    val p = Paths.get(ice, "metadata", "v1.metadata.json")
    Files.writeString(p, Files.readString(p)
      .replace("\"name\" : \"name\"", "\"name\" : \"customer\""))
    val back = Iceberg.importTable(spark, ice, dst)
    assert(back.schema.fieldNames.toSeq ==
      Seq("id", "customer", "d", "v", "bucket"))
    assertDfEquality(back.toDF, ordersDf.withColumnRenamed("name", "customer"))
  }

  test("PARTIALLY-stamped footers refuse as malformed: no safe regime " +
       "exists (id-resolution would null-fill the unstamped fields, " +
       "name-trust couldn't see a rename on them)") {
    val src = tmp("renp-src"); val ice = tmp("renp-ice")
    val dst = tmp("renp-dst")
    // graft can no longer produce this table end to end (export refuses
    // partial-id SCHEMAS outright — see the partial-coverage export
    // test), so the partial FOOTER is manufactured the foreign-tool
    // way, like the mixed-table test below: export a fully-stamped
    // table, then rewrite one data file in place with ids on only its
    // first two columns
    val tbl = tableWithFieldIds(src)
    Iceberg.exportTable(tbl, ice)
    val victim = {
      val s = Files.walk(Paths.get(src, "data"))
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      finally s.close()
    }
    val partialSchema = StructType(ordersDf.schema.fields.zipWithIndex.map {
      case (f, i) =>
        if (i < 2)
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putLong("parquet.field.id", i + 1L).build())
        else f
    })
    val victimRows = spark.read.parquet(victim.toString).collect().toIndexedSeq
    val rw = tmp("renp-rw")
    val prev = spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    try spark.createDataFrame(victimRows.asJava, partialSchema)
      .coalesce(1).write.parquet(rw)
    finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.parquet.fieldId.write.enabled", v)
      case None => spark.conf.unset(
        "spark.sql.parquet.fieldId.write.enabled")
    }
    val part = {
      val s = Files.list(Paths.get(rw))
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.delete(victim); Files.move(part, victim)
    Files.deleteIfExists(victim.getParent.resolve(
      "." + victim.getFileName.toString + ".crc"))
    val e = intercept[IllegalArgumentException] {
      Iceberg.importTable(spark, ice, dst)
    }
    assert(e.getMessage.contains("PARTIALLY stamped"), e.getMessage)
  }

  test("RENAMED columns refuse loud in a MIXED full/id-less table: the " +
       "recursive cross-check sees the rename on the stamped file") {
    val src = tmp("mix-src"); val ice = tmp("mix-ice")
    val dst = tmp("mix-dst")
    // graft itself can no longer produce mixed files (writeData
    // re-stamps ids on id-bearing tables — see the post-import
    // mutation test), so the id-less member is manufactured by
    // REWRITING one exported data file in place without ids, the way a
    // foreign tool compacting an Iceberg table might
    val tbl = tableWithFieldIds(src)
    Iceberg.exportTable(tbl, ice)
    val dataFiles = {
      val s = Files.walk(Paths.get(src, "data"))
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }
    assert(dataFiles.size >= 2,
      s"fixture needs >=2 data files, got ${dataFiles.size}")
    val victim = dataFiles.head
    // spark.read does not surface footer ids as schema metadata, so
    // this round trip writes the same rows id-LESS
    val plain = spark.read.parquet(victim.toString)
    val rw = tmp("mix-rw")
    val prev = spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try plain.coalesce(1).write.parquet(rw)
    finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.parquet.fieldId.write.enabled", v)
      case None => spark.conf.unset(
        "spark.sql.parquet.fieldId.write.enabled")
    }
    val part = {
      val s = Files.list(Paths.get(rw))
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.delete(victim); Files.move(part, victim)
    // drop hadoop's stale checksum sidecar for the replaced file
    Files.deleteIfExists(victim.getParent.resolve(
      "." + victim.getFileName.toString + ".crc"))
    val p = Paths.get(ice, "metadata", "v1.metadata.json")
    Files.writeString(p, Files.readString(p)
      .replace("\"name\" : \"name\"", "\"name\" : \"customer\""))
    val e = intercept[IllegalArgumentException] {
      Iceberg.importTable(spark, ice, dst)
    }
    assert(e.getMessage.contains("column renamed"), e.getMessage)
    assert(e.getMessage.contains("customer"), e.getMessage)
  }

  test("post-import MUTATIONS of an id-resolved table keep it readable: " +
       "writeData re-stamps the ids, so append/UPDATE files id-resolve " +
       "like the adopted ones") {
    val src = tmp("mut-src"); val ice = tmp("mut-ice")
    val dst = tmp("mut-dst")
    val tbl = tableWithFieldIds(src)
    Iceberg.exportTable(tbl, ice)
    val p = Paths.get(ice, "metadata", "v1.metadata.json")
    Files.writeString(p, Files.readString(p)
      .replace("\"name\" : \"name\"", "\"name\" : \"customer\""))
    val back = Iceberg.importTable(spark, ice, dst)
    // append under the CURRENT (renamed) schema, then update a row —
    // both write fresh files through writeData
    back.append(spark.createDataFrame(
      Seq(Row(4L, "dana", java.sql.Date.valueOf("2024-04-01"), 7.5, 2))
        .asJava, back.schema))
    back.update(Map("customer" -> "'ALICE'"), Some("id = 1"))
    val got = back.toDF.selectExpr("id", "customer").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "ALICE"), (2L, "bob"), (3L, null),
      (4L, "dana")), got.toString)
  }

  test("a SWAP-rename (stale footer name collides with a different " +
       "current column) refuses even under id-resolution: footer stats " +
       "would cross-bind and corrupt file skipping") {
    val src = tmp("swap-src"); val ice = tmp("swap-ice")
    val dst = tmp("swap-dst")
    val tbl = tableWithFieldIds(src)
    Iceberg.exportTable(tbl, ice)
    // schema swap: field id 2 ('name') becomes 'v', field id 4 ('v')
    // becomes 'name' — the files' stale 'name'/'v' footer names now
    // each point at the OTHER column
    val p = Paths.get(ice, "metadata", "v1.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readString(p))
    val fields = node.get("schemas").get(0).get("fields")
    fields.get(1).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("name", "v")
    fields.get(3).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("name", "name")
    Files.writeString(p, mapper.writeValueAsString(node))
    val e = intercept[IllegalArgumentException] {
      Iceberg.importTable(spark, ice, dst)
    }
    assert(e.getMessage.contains("swap-renamed"), e.getMessage)
  }

  test("NESTED struct-field renames resolve by field id too — the " +
       "null-fill gap a top-level-only check would miss") {
    val src = tmp("nest-src"); val ice = tmp("nest-ice")
    val dst = tmp("nest-dst")
    val inner = StructType(Seq(
      StructField("name", StringType, nullable = true, metadata =
        new MetadataBuilder().putLong("parquet.field.id", 3L).build()),
      StructField("v", LongType, nullable = true, metadata =
        new MetadataBuilder().putLong("parquet.field.id", 4L).build())))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false, metadata =
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("info", inner, nullable = true, metadata =
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val rows = Seq(Row(1L, Row("alice", 10L)), Row(2L, Row("bob", 20L)))
    val prev = spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val tbl =
      try ManagedTable.create(
        spark.createDataFrame(rows.asJava, schema), src)
      finally prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.parquet.fieldId.write.enabled", v)
        case None => spark.conf.unset(
          "spark.sql.parquet.fieldId.write.enabled")
      }
    Iceberg.exportTable(tbl, ice)
    // the export assigns top-level ids 1..2 and nested ids 3..4 in
    // field order — matching the stamped metadata; sanity-pin that
    val md0 = Files.readString(Paths.get(ice, "metadata", "v1.metadata.json"))
    assert(md0.contains("\"last-column-id\" : 4"), md0.take(400))
    // rename the NESTED field 'name' (id 3) -> 'label'
    val p = Paths.get(ice, "metadata", "v1.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readString(p))
    node.get("schemas").get(0).get("fields").get(1).get("type")
      .get("fields").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("name", "label")
    Files.writeString(p, mapper.writeValueAsString(node))
    val back = Iceberg.importTable(spark, ice, dst)
    val info = back.schema("info").dataType.asInstanceOf[StructType]
    assert(info.fieldNames.toSeq == Seq("label", "v"))
    val got = back.toDF
      .selectExpr("id", "info.label", "info.v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
      .toSeq
    assert(got == Seq((1L, "alice", 10L), (2L, "bob", 20L)), got.toString)
  }

  test("a file stamping top-level ids but NOT a nested field is the " +
       "PARTIAL class and refuses — the nested null-fill an id-resolved " +
       "scan would otherwise commit silently") {
    val src = tmp("nestref-src"); val ice = tmp("nestref-ice")
    val dst = tmp("nestref-dst")
    val innerFull = StructType(Seq(
      StructField("name", StringType, nullable = true, metadata =
        new MetadataBuilder().putLong("parquet.field.id", 3L).build()),
      StructField("v", LongType, nullable = true, metadata =
        new MetadataBuilder().putLong("parquet.field.id", 4L).build())))
    def outer(inner: StructType): StructType = StructType(Seq(
      StructField("id", LongType, nullable = false, metadata =
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("info", inner, nullable = true, metadata =
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val rows = Seq(Row(1L, Row("alice", 10L)))
    val prev = spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val tbl =
      try ManagedTable.create(
        spark.createDataFrame(rows.asJava, outer(innerFull)), src)
      finally prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.parquet.fieldId.write.enabled", v)
        case None => spark.conf.unset(
          "spark.sql.parquet.fieldId.write.enabled")
      }
    Iceberg.exportTable(tbl, ice)
    // the partial FOOTER is manufactured by an in-place rewrite (export
    // refuses partial-id schemas outright): nested 'name' loses its id —
    // the hole a top-level-only completeness check used to wave through
    val innerPartial = StructType(Seq(
      StructField("name", StringType, nullable = true),
      StructField("v", LongType, nullable = true, metadata =
        new MetadataBuilder().putLong("parquet.field.id", 4L).build())))
    val victim = {
      val s = Files.walk(Paths.get(src, "data"))
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      finally s.close()
    }
    val rw = tmp("nestref-rw")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    try spark.createDataFrame(rows.asJava, outer(innerPartial))
      .coalesce(1).write.parquet(rw)
    finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.parquet.fieldId.write.enabled", v)
      case None => spark.conf.unset(
        "spark.sql.parquet.fieldId.write.enabled")
    }
    val part = {
      val s = Files.list(Paths.get(rw))
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.delete(victim); Files.move(part, victim)
    Files.deleteIfExists(victim.getParent.resolve(
      "." + victim.getFileName.toString + ".crc"))
    val e = intercept[IllegalArgumentException] {
      Iceberg.importTable(spark, ice, dst)
    }
    assert(e.getMessage.contains("PARTIALLY stamped"), e.getMessage)
  }

  test("time travel resolves the SNAPSHOT'S OWN schema-id: a pre-rename " +
       "snapshot reads under the names it was written with") {
    val src = tmp("ttsch-src"); val ice = tmp("ttsch-ice")
    val dstCur = tmp("ttsch-cur"); val dstOld = tmp("ttsch-old")
    val tbl = tableWithFieldIds(src)
    Iceberg.exportTable(tbl, ice)
    // doctor: schema 1 renames 'name' -> 'customer' and becomes
    // current; snapshot 1 keeps schema-id 0 (the pre-rename schema)
    val p = Paths.get(ice, "metadata", "v1.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val schemas = node.get("schemas")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val s1 = schemas.get(0).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    s1.put("schema-id", 1)
    s1.get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("name", "customer")
    schemas.add(s1)
    node.put("current-schema-id", 1)
    Files.writeString(p, mapper.writeValueAsString(node))
    // current state: the renamed schema, values served by field id
    val cur = Iceberg.importTable(spark, ice, dstCur)
    assert(cur.schema.fieldNames.toSeq ==
      Seq("id", "customer", "d", "v", "bucket"))
    // time travel to snapshot 1: its own schema-id 0, the old names
    val old = Iceberg.importTable(spark, ice, dstOld, snapshotId = Some(1L))
    assert(old.schema.fieldNames.toSeq ==
      Seq("id", "name", "d", "v", "bucket"))
    assertDfEquality(old.toDF, ordersDf)
    assertDfEquality(cur.toDF, ordersDf.withColumnRenamed("name", "customer"))
  }

  test("empty table (no current snapshot) imports as an empty managed " +
       "table with the schema") {
    val src = tmp("empty-src"); val ice = tmp("empty-ice")
    val dst = tmp("empty-dst")
    val tbl = ManagedTable.create(ordersDf, src)
    Iceberg.exportTable(tbl, ice)
    val meta = Paths.get(ice, "metadata")
    val p = meta.resolve("v1.metadata.json")
    Files.writeString(p, Files.readString(p)
      .replace("\"current-snapshot-id\" : 1", "\"current-snapshot-id\" : -1"))
    val back = Iceberg.importTable(spark, ice, dst)
    assert(back.toDF.count() == 0)
    assert(back.schema.fieldNames.toSeq ==
      Seq("id", "name", "d", "v", "bucket"))
  }

  // ---- sharded position-delete export / sharded sidecar adoption ------

  test("a BULK DV mask exports as SHARDED position-delete files — many " +
       "range-disjoint sorted files, one manifest entry each — and the " +
       "import adopts them through a SHARDED sidecar write") {
    import org.apache.spark.sql.functions.col
    val src = tmp("dvsh-src"); val ice = tmp("dvsh-ice")
    val dst = tmp("dvsh-dst")
    val big = spark.range(3000).select(col("id"), (col("id") * 7).as("v"))
    val tbl = ManagedTable.create(big, src,
      properties = Map(ManagedTable.dvPropKey -> "true"))
    tbl.optimize(targetFileSizeBytes = 16 * 1024, sortBy = Seq("id"))
    val prev = spark.conf.getOption("spark.graft.dv.rowsPerShard")
    spark.conf.set("spark.graft.dv.rowsPerShard", "100")
    try {
      assert(tbl.delete("id % 3 = 0") == 1000)
      Iceberg.exportTable(tbl, ice)
      // many delete files under data/ (name order = global order)
      val delFiles = {
        val s = Files.list(Paths.get(ice, "data"))
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted
        finally s.close()
      }
      assert(delFiles.size > 1,
        s"a 1000-row mask at 100 rows/shard must shard, got ${delFiles.size}")
      // one manifest entry per shard, record_count = that file's rows
      val mc = Avro.readContainer(Files.newInputStream(
        Paths.get(ice, "metadata", "graft-del-m0.avro")))
      val entries = mc.records.map(_.asInstanceOf[Map[String, Any]])
        .map(_("data_file").asInstanceOf[Map[String, Any]])
      assert(entries.size == delFiles.size)
      assert(entries.forall(_("content") == 1))
      val byPath = entries.map(e =>
        e("file_path").toString.split('/').last ->
          e("record_count").asInstanceOf[Long]).toMap
      var total = 0L
      val ranges = delFiles.map { f =>
        val rows = spark.read
          .parquet(Paths.get(ice, "data", f).toString)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(byPath(f) == rows.size.toLong,
          s"manifest record_count for $f must match the footer")
        // the spec's ordering rule holds WITHIN each file
        assert(rows == rows.sorted, s"$f must be sorted by (file_path, pos)")
        total += rows.size
        (rows.head, rows.last)
      }
      assert(total == 1000L)
      // range partitioning keeps files DISJOINT in global order
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo, _)) =>
          assert(implicitly[Ordering[(String, Long)]].lt(hi, lo),
            s"shard ranges must be disjoint in name order: $hi !< $lo")
        case _ => ()
      }
      // the import side shards its sidecar write too
      val back = Iceberg.importTable(spark, ice, dst)
      val refs = back.currentFileStats.flatMap(_.dv).distinct
      assert(refs.size == 1)
      val sidecarParts = {
        val s = Files.list(Paths.get(dst, "_graft_dv", refs.head))
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq
        finally s.close()
      }
      assert(sidecarParts.size > 1,
        s"the adopted sidecar must shard, got ${sidecarParts.size} file(s)")
      assertDfEquality(back.toDF, big.filter("id % 3 <> 0"))
      assert(back.numRows == 2000L)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.dv.rowsPerShard", v)
      case None => spark.conf.unset("spark.graft.dv.rowsPerShard")
    }
  }

  test("adopted position deletes inconsistent with the file's row count " +
       "refuse loud (pos past the footer rows)") {
    val src = tmp("dvbad-src"); val ice = tmp("dvbad-ice")
    val dst = tmp("dvbad-dst")
    val tbl = ManagedTable.create(ordersDf, src,
      properties = Map(ManagedTable.dvPropKey -> "true"))
    tbl.delete("id = 2")
    Iceberg.exportTable(tbl, ice)
    // doctor the delete file: shift pos far past any file's row count,
    // and stamp the manifest with the same count so the delete-integrity
    // pre-check passes and the per-file bound is what must catch it
    val delFile = {
      val s = Files.list(Paths.get(ice, "data"))
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      finally s.close()
    }
    val rows = spark.read.parquet(delFile.toString)
    val doctored = rows.selectExpr("file_path", "pos + 1000000 AS pos")
    val tmpD = Paths.get(tmp("dvbad-tmp"))
    doctored.coalesce(1).write.parquet(tmpD.toString)
    val newPart = {
      val s = Files.list(tmpD)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      finally s.close()
    }
    Files.delete(delFile)
    Files.copy(newPart, delFile)
    // fix the manifest's file_size (rewrite changed it); record_count
    // is unchanged (same rows, shifted positions)
    val e = intercept[IllegalArgumentException] {
      Iceberg.importTable(spark, ice, dst)
    }
    assert(e.getMessage.contains("inconsistent"), e.getMessage)
  }

  // ---- metadata field ids on export ------------------------------------

  private def idSchema(ids: Map[String, Long]): StructType = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", StringType, nullable = true)).map { f =>
    ids.get(f.name).fold(f) { i =>
      f.copy(metadata = new MetadataBuilder()
        .putLong("parquet.field.id", i).build())
    }
  })

  test("export emits the schema's parquet.field.id metadata ids (NOT " +
       "positional): external readers resolve BY ID against the ids " +
       "writeData stamps into the files") {
    val src = tmp("mid-src"); val ice = tmp("mid-ice"); val dst = tmp("mid-dst")
    val data = df(idSchema(Map("a" -> 7L, "b" -> 3L)),
      Seq(Row(1L, "x"), Row(2L, "y")))
    val prev = spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val tbl =
      try ManagedTable.create(data, src)
      finally prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
      }
    Iceberg.exportTable(tbl, ice)
    val md = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(ice, "metadata", "v1.metadata.json")))
    val fields = md.path("schemas").get(0).path("fields")
      .elements().asScala.toSeq
    assert(fields.map(f => (f.path("name").asText(), f.path("id").asInt()))
      == Seq(("a", 7), ("b", 3)),
      "exported ids must be the metadata ids, not positional 1..n")
    assert(md.path("last-column-id").asInt() == 7)
    // the exported metadata agrees with the stamped files: a RENAME in
    // the metadata still serves the column by id on re-import
    val p = Paths.get(ice, "metadata", "v1.metadata.json")
    Files.writeString(p, Files.readString(p)
      .replace("\"name\" : \"b\"", "\"name\" : \"tag\""))
    val back = Iceberg.importTable(spark, ice, dst)
    assertDfEquality(back.toDF,
      data.withColumnRenamed("b", "tag"))
  }

  test("export refuses PARTIAL parquet.field.id coverage (no id " +
       "assignment can agree with the stamped files)") {
    val src = tmp("pid-src"); val ice = tmp("pid-ice")
    val data = df(idSchema(Map("a" -> 7L)), Seq(Row(1L, "x")))
    val tbl = ManagedTable.create(data, src)
    val e = intercept[IllegalArgumentException] {
      Iceberg.exportTable(tbl, ice)
    }
    assert(e.getMessage.contains("partial id coverage"), e.getMessage)
  }

  test("metadata with schemas[] but NO current-schema-id imports via " +
       "the sole entry (writers that omit the pointer)") {
    val src = tmp("nocsi-src"); val ice = tmp("nocsi-ice")
    val dst = tmp("nocsi-dst")
    val tbl = ManagedTable.create(ordersDf, src)
    Iceberg.exportTable(tbl, ice)
    val p = Paths.get(ice, "metadata", "v1.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.remove("current-schema-id")
    Files.writeString(p, mapper.writeValueAsString(root))
    val back = Iceberg.importTable(spark, ice, dst)
    assertDfEquality(back.toDF, ordersDf)
  }

  test("no current-schema-id: the SOLE schemas[] entry beats a stale " +
       "inline schema node, and a multi-entry schemas[] refuses even " +
       "when an inline node exists") {
    val src = tmp("staleinline-src"); val ice = tmp("staleinline-ice")
    val dst = tmp("staleinline-dst"); val dst2 = tmp("staleinline-dst2")
    val tbl = ManagedTable.create(ordersDf, src)
    Iceberg.exportTable(tbl, ice)
    val p = Paths.get(ice, "metadata", "v1.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.remove("current-schema-id")
    // plant a STALE inline v1 schema (one bogus field): if the reader
    // preferred inline over the sole schemas[] entry, the import would
    // misbind and fail equality below
    val stale = mapper.createObjectNode()
    stale.put("type", "struct")
    val fields = mapper.createArrayNode()
    val f = mapper.createObjectNode()
    f.put("id", 1); f.put("name", "bogus"); f.put("required", false)
    f.put("type", "long")
    fields.add(f); stale.set("fields", fields)
    root.set("schema", stale)
    Files.writeString(p, mapper.writeValueAsString(root))
    val back = Iceberg.importTable(spark, ice, dst)
    assertDfEquality(back.toDF, ordersDf)
    // multi-entry schemas[] with no pointer: ambiguous — refuse loud
    val dup = root.get("schemas").get(0).deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    dup.put("schema-id", 99)
    root.get("schemas")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].add(dup)
    Files.writeString(p, mapper.writeValueAsString(root))
    val e = intercept[IllegalArgumentException] {
      Iceberg.importTable(spark, ice, dst2)
    }
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
    // EMPTY schemas[] and no usable inline node: its own message, not
    // the multi-entry one
    root.set("schemas", mapper.createArrayNode())
    root.remove("schema")
    Files.writeString(p, mapper.writeValueAsString(root))
    val e2 = intercept[IllegalArgumentException] {
      Iceberg.importTable(spark, ice, dst2)
    }
    assert(e2.getMessage.contains("empty schemas[]") &&
      !e2.getMessage.contains("more than one"), e2.getMessage)
  }

}
