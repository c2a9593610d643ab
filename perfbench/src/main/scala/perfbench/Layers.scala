package perfbench

/** The per-layer report of a traced run. Span names are
  * `<graft module>.<call>`; `spark.*` are whole-loop engine counters from
  * the benchmark's own listeners.
  */
object Layers {
  /** Every span reports these; each value is the median over its calls. */
  val common = Seq("wall_ms", "driver_ms", "jobs", "tasks")

  /** Span name -> its extra counters (also medians over its calls). */
  val spans: Seq[(String, Seq[String])] = Seq(
    "tables.merge" -> Seq("shuffle_bytes", "files_rewritten", "bytes_written", "log_bytes"),
    "operators.scd2" -> Seq("files_rewritten", "bytes_written"),
    "operators.append_nodup" -> Seq("bytes_written"),
    "tables.delete" -> Seq("bytes_written"),
    "tables.maintain" -> Seq("bytes_rewritten", "bytes_reclaimed"),
    "tables.changes" -> Nil,
    "tables.lookup" -> Seq("files_scanned", "skip_ratio"),
    "tables.bloom_lookup" -> Seq("files_scanned", "skip_ratio"),
    "tables.range_scan" -> Seq("files_scanned", "skip_ratio"),
    "tables.time_travel" -> Nil,
    "tables.metadata" -> Nil,
    "tables.append" -> Seq("log_bytes"),
    "streaming.incremental_dedup" -> Seq("shuffle_bytes", "commits"),
    "text.kn_fit" -> Seq("shuffle_bytes", "spill_bytes"),
    "text.kn_score" -> Nil,
    "text.bpe_fit" -> Nil,
    "text.bpe_count" -> Seq("task_ms"),
    "ml.decontaminate" -> Seq("task_ms"),
    "tables.create" -> Seq("bytes_written"))

  /** Whole-loop engine counters (sums over every call of the loop). */
  val run = Seq("jobs", "stages", "tasks", "task_ms", "plan_ms", "gc_ms",
    "shuffle_bytes", "spill_bytes").map("spark." + _)

  /** Output quality of the streaming dedup layer (curate_corpus). */
  val quality = Seq("streaming.incremental_dedup.recall",
    "streaming.incremental_dedup.precision")

  /** Every per-layer metric a traced run prints, in BENCHMARK.json order. */
  val names: Seq[String] =
    spans.flatMap { case (s, extra) => (common ++ extra).map(m => s"$s.$m") } ++ run ++ quality

  def unit(name: String): String = name.split('.').last match {
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_bytes") => "B"
    case "skip_ratio" | "recall" | "precision" => "ratio"
    case _ => "count"
  }

  private def selfMs(s: Span): Double = s.wallMs - s.children.map(_.wallMs).sum

  /** Medians per span name of wall, self and driver time and of every
    * counter, plus the whole-loop `spark.*` sums.
    */
  def report(all: Seq[Span], counters: Map[Int, Map[String, Double]],
             gcLoopMs: Long): Map[String, Double] = {
    def c(s: Span, k: String) = counters.getOrElse(s.id, Map.empty).getOrElse(k, 0.0)
    val perSpan = all.groupBy(_.name).toSeq.flatMap { case (name, ss) =>
      val keys = (Seq("jobs", "stages", "tasks", "task_ms", "plan_ms", "shuffle_bytes",
        "spill_bytes") ++ ss.flatMap(_.extras.keys)).distinct
      Seq(
        s"$name.wall_ms" -> Main.median(ss.map(_.wallMs)),
        s"$name.self_ms" -> Main.median(ss.map(selfMs)),
        s"$name.driver_ms" -> Main.median(ss.map(s => s.wallMs - c(s, "job_ms"))),
        s"$name.calls" -> ss.size.toDouble) ++
        keys.map(k => s"$name.$k" ->
          Main.median(ss.map(s => s.extras.getOrElse(k, c(s, k)))))
    }
    val top = all.filter(_.parent < 0)
    val totals = Seq("jobs", "stages", "tasks", "task_ms", "plan_ms", "shuffle_bytes",
      "spill_bytes").map(k => s"spark.$k" -> top.map(c(_, k)).sum)
    (perSpan ++ totals :+ ("spark.gc_ms" -> gcLoopMs.toDouble)).toMap
  }

  def spanRecords(all: Seq[Span]): Seq[Json.Raw] = all.map(s => Json.obj(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_ms" -> s.wallMs,
    "self_ms" -> selfMs(s)))
}
