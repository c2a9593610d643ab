package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.exec.Scoped
import graft.tables.ManagedTable
import graft.text.MinHashDedup

/** Streaming near-duplicate dedup: documents stream in, each micro-batch
  * is near-dedup'd against EVERYTHING seen so far, and only novel
  * documents flow to the output table — the incremental form of the
  * batch MinHash pipeline (continuous training-data ingestion, where the
  * corpus index outlives any one job).
  *
  * Shape: `foreachBatch` + a persistent [[SigIndex]] of two ManagedTables:
  *
  *  - `buckets` — one row per (doc, band): `(id, band, bandHash)`,
  *    hive-partitioned by `__bp = pmod(bandHash, parts)`. The per-batch
  *    LSH candidate join probes ONLY the partitions holding the batch's
  *    own band-hash residues (a partition-pruned `toDFWhere` read), so a
  *    batch touches a bounded slice of the index instead of re-scanning
  *    all of it — the fix for the per-batch full-index scan.
  *  - `sigs` — one row per doc: `(id, shingle hashes)`, partitioned by
  *    `__sp = pmod(xxhash64(id), parts)`. The replay anti-join and the
  *    exact-Jaccard verification read only the partitions of the ids they
  *    actually probe, pruned the same way.
  *
  * Per batch:
  *
  *  1. batch-internal near-dedup (keep-first, the batch pipeline's rule);
  *  2. LSH candidate join of the batch's band hashes against the pruned
  *     bucket partitions — only bucket collisions are compared;
  *  3. exact-Jaccard verification of candidates over the stored shingle
  *     hash sets (same predicate as the batch path, so a batch replay
  *     equals the batch dedup);
  *  4. novel docs append to `out`, their bucket rows to `buckets`, their
  *     signatures to `sigs` — in THAT order, with `sigs` as the commit
  *     point: the replay filter (step 1's anti-join) keys off `sigs`
  *     membership, and the `out`/`buckets` appends each carry their own
  *     id-level anti-join, so a batch that crashes between ANY two of the
  *     three commits replays without duplicating rows anywhere (each
  *     ManagedTable commit is individually atomic);
  *  5. the index auto-compacts once it fragments past `maxIndexFiles`.
  *
  * Driver involvement per batch is three bounded collects (the distinct
  * partition residues to probe — at most `parts` longs each); everything
  * row-scale stays distributed. `parts` trades read amplification against
  * directory count: at a 10⁹-doc index, parts=4096 makes a small batch
  * read tens of partitions instead of terabytes.
  */
object StreamingDedup {

  /** Index schema columns (alongside the id column). */
  private val HH = "__hh"
  private val BANDS = "__bands"

  /** Wall-clock phase tracing for the per-batch pipeline, enabled by
    * GRAFT_TRACE_STREAMING=1 (stderr; off in normal runs — the bench and
    * the driver never set it). Kept because the per-batch cost here is
    * commit/jobs overhead, not compute, and regressions need attribution.
    */
  private val trace = sys.env.get("GRAFT_TRACE_STREAMING").contains("1")
  private def timed[T](name: String)(f: => T): T =
    if (!trace) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[stream-dedup] $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  /** The persistent signature index: `sigs` (id → shingle hashes,
    * partitioned by id-hash residue) + `buckets` (id × band → band hash,
    * partitioned by band-hash residue).
    */
  final case class SigIndex(sigs: ManagedTable, buckets: ManagedTable,
                            parts: Int)

  private val PARTS_PROP = "graft.lsh.parts"

  /** Create (or open) the signature index for an id column of `idType`.
    * `parts` is pinned in table properties at creation; reopening ignores
    * the argument in favor of the stored value (the physical layout is
    * already committed to it).
    */
  def openIndex(spark: SparkSession, path: String,
                idCol: String, idType: org.apache.spark.sql.types.DataType,
                parts: Int = 64): SigIndex = {
    import org.apache.spark.sql.types._
    require(parts >= 1, "parts must be >= 1")
    val sigsPath = path + "/sigs"
    val bucketsPath = path + "/buckets"
    if (ManagedTable.exists(sigsPath)) {
      val sigs = ManagedTable.forPath(spark, sigsPath)
      val p = sigs.properties.getOrElse(PARTS_PROP, parts.toString).toInt
      SigIndex(sigs, ManagedTable.forPath(spark, bucketsPath), p)
    } else {
      def empty(schema: StructType) = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      // containsNull = true: the hash array builds from nullable
      // expressions, and Spark refuses nullable→non-nullable array casts
      val sigs = ManagedTable.create(
        empty(StructType(Seq(
          StructField(idCol, idType),
          StructField(HH, ArrayType(LongType, containsNull = true)),
          StructField("__sp", LongType)))),
        sigsPath, partitionBy = Seq("__sp"),
        properties = Map(PARTS_PROP -> parts.toString))
      val buckets = ManagedTable.create(
        empty(StructType(Seq(
          StructField(idCol, idType),
          StructField("__band", IntegerType),
          StructField("__bh", LongType),
          StructField("__bp", LongType)))),
        bucketsPath, partitionBy = Seq("__bp"),
        properties = Map(PARTS_PROP -> parts.toString))
      SigIndex(sigs, buckets, parts)
    }
  }

  /** Partition-pruned read: only the partitions of `t` whose `partCol`
    * residue appears in `values` are scanned (file skipping via the
    * partition-value bounds in the table's file stats — check
    * `.inputFiles` to see it).
    */
  private[streaming] def prunedRead(t: ManagedTable, partCol: String,
                                    values: Seq[Long]): DataFrame =
    timed(s"prunedRead-$partCol") {
      if (values.isEmpty)
        t.toDF.limit(0)
      else t.toDFWhere(s"$partCol IN (${values.mkString(",")})")
    }

  private def spOf(idCol: String, parts: Int) =
    pmod(xxhash64(col(idCol)), lit(parts.toLong))

  /** Pure per-batch core (callable from batch jobs too): near-dedup
    * `batch` against `index`, append novel docs to `out` and their
    * signatures/buckets to `index`. Returns the number of novel documents.
    *
    * `txn = (appId, batchVersion)` — REQUIRED — is the replay
    * protection: O(1) idempotent commits (Delta's `txnAppId`/`txnVersion`
    * pattern). Each of the three appends records the batch version in its
    * table's snapshot properties and no-ops if that version already
    * committed, so a checkpoint-replayed batch — including one that
    * crashed BETWEEN the out/buckets/sigs commits — re-lands exactly once
    * with zero table-scan guards. (An earlier optional form fell back to
    * an id-level anti-join against the out table's full id column —
    * O(corpus) per batch, not viable at 10⁹ docs, so the fallback is
    * gone: batch callers pass a writer id and a monotone batch number.)
    *
    * Caveat shared with Delta: [[ManagedTable.restore]] keeps table
    * properties, so rolling a table back past a recorded `txn` version
    * does NOT forget it — a replay after a restore must use a fresh
    * `appId` (or higher version) to re-land.
    */
  def incremental(batch: DataFrame, idCol: String, textCol: String,
                  index: SigIndex, out: ManagedTable,
                  txn: (String, Long),
                  threshold: Double = 0.8, numHashes: Int = 64,
                  bands: Int = 16, shingleWidth: Int = 3,
                  maxBucketSize: Int = 1000,
                  maxIndexFiles: Int = 64): Long = {
    val parts = index.parts
    // sigs commits LAST, so its recorded version proves the whole batch
    // (out, buckets, sigs) landed: a fully-replayed batch is one property
    // read, not a re-run of the dedup plan
    val fullyApplied = timed("txn-probe")(
      index.sigs.txnVersion(txn._1).exists(_ >= txn._2))
    if (fullyApplied) return 0L
    // the per-batch pipeline is ~10 small joins/aggregations, so it
    // runs in a [[graft.exec.Scoped]] child at the index's OWN scale
    // knob: `parts` is pinned at creation to the corpus (10⁹ docs →
    // 4096 per the scaladoc), so at production scale the width is the
    // session's and only the small-index/small-batch regime narrows —
    // measured (sf0.1 two-batch profile) 11.6 s at width 32 vs 6.5 s at
    // width 4, all of it task-scheduling and tiny-exchange overhead. The
    // appends receive child-session frames and write at pipeline width;
    // their file layout is unaffected (each repartitions/coalesces
    // explicitly).
    Scoped(batch.sparkSession) { sc =>
    sc.width(math.max(1, math.min(parts, sc.callerWidth)))
    val batchB = sc(batch)
    // 1. tokenize + hash ONCE for the whole batch: this single persisted
    // frame feeds the within-batch dedup, the index candidate join, the
    // verification, and the index append (tokenization dominates the
    // pipeline; an earlier formulation ran it twice per batch)
    val hashed = sc.persist(batchB.select(col(idCol),
        graft.plans.expressions.shingle_hashes(col(textCol), shingleWidth).as(HH))
      .withColumn("__sig",
        MinHashDedup.minHashFromHashes(col(HH), numHashes))
      .select(col(idCol), col(HH),
        MinHashDedup.bandHashes(col("__sig"), numHashes, bands).as(BANDS)))

    // batch-internal keep-first near-dedup (the batch operator's rule:
    // drop the larger id of every verified pair), over the staged frame
    val withinCands = MinHashDedup.candidatePairsFromHashes(
      hashed.select(col(idCol).as("__id"), col(HH).as("__hh")),
      numHashes, bands, maxBucketSize)
    val losers = withinCands
      .join(hashed.select(col(idCol).as("id_a"), col(HH).as("__ha")), Seq("id_a"))
      .join(hashed.select(col(idCol).as("id_b"), col(HH).as("__hb")), Seq("id_b"))
      .filter(graft.plans.expressions.hash_jaccard(col("__ha"), col("__hb"))
        >= threshold)
      .select(col("id_b").as(idCol)).distinct()

    // the batch's exploded band hashes (ALL docs — losers too; see the
    // residue note below)
    val allBands = sc.persist(hashed.select(
        col(idCol), posexplode(col(BANDS)).as(Seq("__band", "__bh")))
      .withColumn("__bp", pmod(col("__bh"), lit(parts.toLong))))

    // EMPTY-INDEX FAST PATH: until the first novel commit lands (always
    // batch 1, and every replay of it), the index has zero live files —
    // the residue collect, the known-id anti-join, the LSH candidate
    // join, and the verification-pruning collect are all provable
    // no-ops, yet two of them are full job barriers (~1 s each of fixed
    // scheduling/collect latency at streaming batch sizes). The probe is
    // log-metadata only (live file count of the latest snapshot), so it
    // costs nothing at any scale.
    val indexEmpty = timed("empty-probe")(
      index.buckets.detail.numFiles == 0L &&
      index.sigs.detail.numFiles == 0L)

    // BOTH partition-residue sets in ONE driver round-trip (at most
    // 2·`parts` longs): the id residues pruning the sigs replay read and
    // the band residues pruning the bucket read. Collected over the whole
    // batch rather than post-dedup `fresh` — a superset, so the pruned
    // reads only ever widen (never miss a partition a later join needs),
    // and one Spark job replaces the two sequential collects that
    // dominated small-batch latency.
    val (batchSp, batchBp): (Seq[Long], Seq[Long]) =
      if (indexEmpty) (Nil, Nil)
      else {
        val residues = timed("residues-collect")(
          hashed.select(spOf(idCol, parts).as("r"), lit(0).as("kind"))
            .union(allBands.select(col("__bp").as("r"), lit(1).as("kind")))
            .distinct().collect())
        (residues.filter(_.getInt(1) == 0).map(_.getLong(0)).toSeq,
         residues.filter(_.getInt(1) == 1).map(_.getLong(0)).toSeq)
      }

    // retry-idempotence: ids already indexed (an id re-arriving in a later
    // batch; replayed batches are handled by `txn`) drop. The sigs read is
    // pruned to the batch's own id-residue partitions.
    val deduped = hashed.join(losers, Seq(idCol), "left_anti")
    val fresh = sc.persist(if (indexEmpty) deduped
      else deduped.join(
        sc(prunedRead(index.sigs, "__sp", batchSp)).select(col(idCol)),
        Seq(idCol), "left_anti"))

    // 3. LSH candidates vs the index — survivors' band hashes against
    // ONLY the bucket partitions sharing the batch's residues
    val freshBands = allBands.join(fresh.select(idCol), Seq(idCol), "left_semi")
    val idxBuckets =
      if (indexEmpty) None
      else Some(sc.persist(prunedRead(index.buckets, "__bp", batchBp)))

    // verification reads only the sigs partitions that can hold a
    // candidate: the residues come from the PRUNED BUCKET rows (already
    // persisted, a cheap distinct over a small frame) rather than from
    // the materialized candidate join — a superset of the candidates'
    // own residues (every candidate id is a bucket-row id), so the
    // pruned read only ever widens. This removes what used to be the
    // slowest per-batch barrier: persisting the LSH equality join just
    // to collect its residues cost a full extra job; now the candidate
    // join computes exactly once, INSIDE the verification job.
    val verified = idxBuckets.map { idx =>
      val candSp = timed("candSp-collect")(idx.select(
          pmod(xxhash64(col(idCol)), lit(parts.toLong)).as("__sp"))
        .distinct().collect().map(_.getLong(0)).toSeq)
      val idxSigs = sc(prunedRead(index.sigs, "__sp", candSp))
      val cs = freshBands
        .select(col(idCol).as("__new_id"), col("__band"), col("__bh"))
        .join(idx.select(col(idCol).as("__idx_id"), col("__band"), col("__bh")),
          Seq("__band", "__bh"))
        .select("__new_id", "__idx_id").distinct()
      cs.join(fresh.select(col(idCol).as("__new_id"), col(HH).as("__hh_new")),
          Seq("__new_id"))
        .join(idxSigs.select(col(idCol).as("__idx_id"), col(HH).as("__hh_idx")),
          Seq("__idx_id"))
        .withColumn("__j",
          graft.plans.expressions.hash_jaccard(col("__hh_new"), col("__hh_idx")))
        .filter(col("__j") >= threshold)
        .select(col("__new_id").as(idCol)).distinct()
    }

    // 4. novel docs → out, bucket rows → buckets, signatures → sigs.
    // sigs LAST: it is the replay filter's source of truth, so a crash
    // between any two commits re-runs the batch with `fresh` unchanged,
    // and the out/buckets appends below de-dup themselves by id.
    // (Empty index: everything fresh is novel — fresh is already
    // persisted, so reuse it rather than stacking a second persist.)
    //
    // Why NOT one multi-table commit: each ManagedTable owns its own
    // log — there is no cross-table transaction coordinator (same
    // limitation as Delta), and adding one buys nothing here: the three
    // WRITE jobs already overlap (two futures + the main-thread sigs
    // staging share the executor pool — the measured tail is
    // max(write) ≈ 0.5 s, not the sum), the ordered COMMIT tail costs
    // ~20 ms per table, and exactly-once already holds through the
    // idempotent txn markers + sigs-last ordering. Fusing the logs
    // would save ~40 ms of metadata writes at the price of a
    // coordinating-log protocol.
    val novelSigs = verified.map(v =>
      sc.persist(fresh.join(v, Seq(idCol), "left_anti")))
      .getOrElse(fresh)
    val novelCount = timed("novelSigs-count")(novelSigs.count())
    if (novelCount > 0) {
      // size the append's file count by rows — a small batch written at
      // the session's full shuffle parallelism produces dozens of tiny
      // files per commit, and every later batch re-opens all of them
      val parts1 = math.max(1L, novelCount / 100000L).toInt
      val novelIds = novelSigs.select(col(idCol))
      // replay protection is the idempotent txn commit alone (O(1) — no
      // guard read of any table)
      val outRows = batchB.join(novelIds, Seq(idCol), "left_semi")
      // out and buckets are independent commits (different tables, both
      // individually replay-idempotent; only sigs' LAST position matters),
      // so their write jobs overlap on the driver — two threads sharing
      // the same executor pool, not a semantic reorder.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val outF = Future(timed("out-append")(out.append(
        outRows.coalesce(parts1), txn = Some(txn))))
      // HIVE-PARTITIONED appends must repartition BY the partition column
      // first: written as-is, every one of the T shuffle tasks opens a
      // writer in each of the ≤`parts` partition dirs it sees — T×parts
      // tiny files per commit, each billed a footer-stats read and
      // re-opened by every later batch. Clustered, each partition dir is
      // owned by exactly one task → ≤`parts` files per commit REGARDLESS
      // of task count, so write with `parts` tasks: same files, but the
      // dozens of per-dir file opens run in parallel instead of inside
      // one task (measured 3× on the per-batch commit tail).
      val partsB = parts
      val bucketRows = freshBands.join(novelIds, Seq(idCol), "left_semi")
      val bucketsF = Future(timed("buckets-append")(index.buckets.append(
        bucketRows
          .select(col(idCol), col("__band"), col("__bh"), col("__bp"))
          .repartition(partsB, col("__bp")),
        txn = Some(txn))))
      // sigs' COMMIT must come last (it asserts the whole batch landed),
      // but its WRITE job need not wait: stage the data files on this
      // thread while the out/buckets futures run — three write jobs
      // sharing the executor pool, one ordered commit tail. A staged
      // write orphaned by a crash (or by a concurrent schema change,
      // which appendStaged re-writes against) is vacuum-reclaimable,
      // the same exposure append itself has between write and commit.
      val sigRows = novelSigs
        .select(col(idCol), col(HH), spOf(idCol, parts).as("__sp"))
        .repartition(parts, col("__sp"))
      // the staging write can throw (it is a real Spark job) — capture
      // it, NEVER rethrow before the barrier below, or the in-flight
      // out/buckets appends would race a retried batch on the same
      // table/txn
      val sigsStagedT = scala.util.Try(
        timed("sigs-stage")(index.sigs.stageAppend(sigRows)))
      // barrier BEFORE the sigs commit. Await BOTH futures even when one
      // fails — a rethrow that leaves the sibling append in flight would
      // let a retried batch race the orphan on the same table/txn — then
      // propagate the first failure.
      val outR = scala.util.Try(Await.result(outF, Duration.Inf))
      val bucketsR = scala.util.Try(Await.result(bucketsF, Duration.Inf))
      outR.get; bucketsR.get
      timed("sigs-commit")(index.sigs.appendStaged(sigRows, sigsStagedT.get,
        txn = Some(txn)))
      // 5. bound index fragmentation (one commit dir per batch otherwise).
      // The floor scales with the partition count: a `parts`-way
      // partitioned table can never compact below one file per partition,
      // so a threshold under ~2·parts would trigger a useless full
      // rewrite on every single batch.
      val maxFiles = math.max(maxIndexFiles, 2 * parts)
      timed("autoOptimize-sigs")(graft.operators.TableOps.autoOptimize(index.sigs, maxFiles = maxFiles))
      timed("autoOptimize-buckets")(graft.operators.TableOps.autoOptimize(index.buckets, maxFiles = maxFiles))
    }
    novelCount
    }
  }

  /** Streaming shell: wire a streaming `docs` frame through
    * [[incremental]] with `foreachBatch`. `checkpointDir` gives
    * exactly-once batch replay; combined with the per-table id-level
    * anti-joins the pipeline is idempotent under retries, including a
    * crash BETWEEN the out/buckets/sigs commits of one batch.
    */
  def start(docs: DataFrame, idCol: String, textCol: String,
            indexPath: String, outPath: String, checkpointDir: String,
            threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
            shingleWidth: Int = 3, parts: Int = 64): StreamingQuery = {
    val spark = docs.sparkSession
    val idType = docs.schema(idCol).dataType
    val index = openIndex(spark, indexPath, idCol, idType, parts)
    val out =
      if (ManagedTable.exists(outPath)) ManagedTable.forPath(spark, outPath)
      else ManagedTable.create(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          docs.schema), outPath)
    // stable per-query writer id: survives restarts (derived from the
    // checkpoint dir, the same durability domain as the batch ids it
    // versions), so a recovered query keeps its idempotent-commit history
    val appId = "stream-dedup-" +
      java.util.UUID.nameUUIDFromBytes(
        checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incremental(batch, idCol, textCol, index, out,
          txn = (appId, batchId),
          threshold = threshold, numHashes = numHashes, bands = bands,
          shingleWidth = shingleWidth)
        ()
      }
      .start()
  }
}
