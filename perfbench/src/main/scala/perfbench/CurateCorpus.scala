package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.ml.Similarity
import graft.streaming.StreamingDedup
import graft.tables.ManagedTable
import graft.text.{Bpe, VocabStats}

final case class Doc(id: Long, text: String, emb: Seq[Double])
final case class EvalVec(eid: Long, emb: Seq[Double])

/** curate_corpus: the training-data path. A Zipf-vocabulary corpus with
  * planted exact and near duplicates, and embeddings with planted
  * neighbours of a held-out eval set, arrives in batches through the
  * streaming near-dedup into a signature index. The survivors are scored
  * by a Kneser-Ney trigram model, tokenised by a BPE model fitted on them,
  * decontaminated against the eval set by embedding similarity, and
  * written as the training table. One round is one whole pass over the
  * corpus into fresh tables.
  */
final class CurateCorpus(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  private val docs = pick(1200, 600)
  private val batchDocs = pick(600, 200)
  private val vocab = pick(10000, 2000)
  private val zipfS = 1.1
  private val dim = 32
  private val evalVecs = 64
  private val exactShare = 0.04
  private val nearShare = 0.04
  private val contaminatedShare = 0.02
  private val indexParts = 8

  private val rnd = new scala.util.Random(seed)
  private var dir: Path = _
  private var corpus: Seq[Doc] = Nil
  private var evalSet: DataFrame = _
  private val exactDup = mutable.Set[Long]()
  private val nearDup = mutable.Set[Long]()
  private val contaminated = mutable.Set[Long]()
  private var passes = 0
  private val outputHashes = mutable.Buffer[(Long, Long)]()
  private var removedIds: Set[Long] = Set.empty
  private var trainIds: Set[Long] = Set.empty

  // nullable elements: parquet reads arrays back as nullable
  private val docSchema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType), StructField("emb", ArrayType(DoubleType, containsNull = true))))

  private def unit(v: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
  }
  private def gaussian(): Seq[Double] = unit(Seq.fill(dim)(rnd.nextGaussian()))

  /** No warm-up: a pass is the unit of work, and the first one is cold. */
  def warmUp(): Unit = ()

  def setup(d: Path): Unit = {
    dir = d
    val words = (0 until vocab).map { i =>
      val sb = new StringBuilder
      var x = i + 1
      while (x > 0) { sb += ('a' + x % 26).toChar; x /= 26 }
      sb += ('a' + rnd.nextInt(26)).toChar
      sb.toString
    }
    val cdf = words.indices.map(r => 1.0 / math.pow(r + 1, zipfS)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val u = rnd.nextDouble() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf, u)
      words(math.min(if (i >= 0) i else -i - 1, vocab - 1))
    }
    val evals = Seq.fill(evalVecs)(gaussian())
    val out = mutable.ArrayBuffer[Doc]()
    val originals = mutable.ArrayBuffer[Int]()
    (0 until docs).foreach { i =>
      val u = rnd.nextDouble()
      if (i >= batchDocs / 4 && u < exactShare) {
        val src = out(originals(rnd.nextInt(originals.size)))
        out += src.copy(id = i); exactDup += i
        if (contaminated(src.id)) contaminated += i
      } else if (i >= batchDocs / 4 && u < exactShare + nearShare) {
        val src = out(originals(rnd.nextInt(originals.size)))
        val ws = src.text.split(' ')
        val j = rnd.nextInt(ws.length)
        ws(j) = ws(j) + "x"
        out += Doc(i, ws.mkString(" "), src.emb); nearDup += i
        if (contaminated(src.id)) contaminated += i
      } else {
        val text = Seq.fill(40 + rnd.nextInt(81))(word()).mkString(" ")
        val emb =
          if (u < exactShare + nearShare + contaminatedShare) {
            contaminated += i
            unit(evals(rnd.nextInt(evalVecs)).map(_ + 0.02 * rnd.nextGaussian()))
          } else gaussian()
        out += Doc(i, text, emb); originals += i
      }
    }
    corpus = out.toSeq
    evalSet = evals.zipWithIndex.map { case (v, i) => EvalVec(i, v) }.toDF()
      .persist(StorageLevel.MEMORY_ONLY)
    evalSet.count()
  }

  def round(): Unit = {
    passes += 1
    val root = dir.resolve(s"pass-$passes")
    Disk.delete(dir.resolve(s"pass-${passes - 1}"))
    val index = StreamingDedup.openIndex(spark, root.resolve("index").toString, "id",
      LongType, parts = indexParts)
    val out = ManagedTable.create(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docSchema),
      root.resolve("out").toString)
    corpus.grouped(batchDocs).zipWithIndex.foreach { case (batch, b) =>
      rec.write("streaming.incremental_dedup", batch.size, root) {
        val before = Seq(index.sigs, index.buckets, out).map(_.latestVersion).sum
        StreamingDedup.incremental(batch.toDF().repartition(1), "id", "text", index, out,
          txn = ("perfbench", b.toLong))
        if (rec.traced) rec.lastSpan("streaming.incremental_dedup").foreach(_.extras("commits") =
          (Seq(index.sigs, index.buckets, out).map(_.latestVersion).sum - before).toDouble)
      }
    }
    val survivors = out.toDF
    var model: DataFrame = null
    rec.read("text.kn_fit") { model = VocabStats.fitKnModel(survivors, "text") }
    val scores = VocabStats.knNllFromModel(model, survivors, "id", "text")
      .persist(StorageLevel.MEMORY_ONLY)
    rec.read("text.kn_score")(rec.sink(scores))
    var bpe: Bpe.Model = null
    rec.read("text.bpe_fit") { bpe = Bpe.fit(survivors, "text", numMerges = 200) }
    val counts = Bpe.withTokenCounts(survivors, "id", "text", bpe)
      .persist(StorageLevel.MEMORY_ONLY)
    rec.read("text.bpe_count")(rec.sink(counts))
    val clean = Similarity.dropSemanticMatches(survivors, "id", "emb", evalSet, "emb", 0.9)
      .persist(StorageLevel.MEMORY_ONLY)
    rec.read("ml.decontaminate")(rec.sink(clean))
    val train = clean.join(scores, Seq("id")).join(counts, Seq("id"))
    var table: ManagedTable = null
    rec.write("tables.create", 0, root) {
      table = ManagedTable.create(train, root.resolve("train").toString)
    }
    Seq(scores, counts, clean, model).foreach(df => if (df != null) df.unpersist())
    if (table != null) {
      outputHashes += rec.sink(table.toDF)
      removedIds = corpus.map(_.id).toSet -- out.toDF.select("id").as[Long].collect()
      trainIds = table.toDF.select("id").as[Long].collect().toSet
      rec.sampleSpace(Seq(root), Seq(index.sigs, index.buckets, out, table)
        .map(_.detail.sizeInBytes).sum)
    }
  }

  private def planted: Set[Long] = (exactDup ++ nearDup).toSet

  def verify(): Unit = {
    rec.check(exactDup.forall(removedIds), s"exact duplicates kept: ${
      (exactDup -- removedIds).take(5)}")
    rec.check(!contaminated.exists(trainIds), s"contaminated docs kept: ${
      contaminated.filter(trainIds).take(5)}")
    rec.check(outputHashes.distinct.size == 1,
      s"training table differs between passes: $outputHashes")
  }

  private def recall: Double = (planted & removedIds).size.toDouble / planted.size
  private def precision: Double =
    if (removedIds.isEmpty) 0.0 else (planted & removedIds).size.toDouble / removedIds.size

  override def details: Map[String, Any] = Map(
    "passes" -> passes, "docs" -> docs, "batch_docs" -> batchDocs,
    "exact_dups" -> exactDup.size, "near_dups" -> nearDup.size,
    "contaminated" -> contaminated.size, "removed" -> removedIds.size,
    "train_rows" -> trainIds.size, "dedup_recall" -> recall, "dedup_precision" -> precision,
    "output_hash" -> outputHashes.headOption.map(_._1).getOrElse(0L))

  override def layerValues: Map[String, Double] = Map(
    "streaming.incremental_dedup.recall" -> recall,
    "streaming.incremental_dedup.precision" -> precision)
}
