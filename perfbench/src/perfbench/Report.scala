package perfbench

/** Result line and annotation tables. */
object Report {

  /** Per-layer metrics in print order, with units. */
  val perLayerUnits: Seq[(String, String)] = Seq(
    "core.extract_ns_per_doc" -> "ns", "core.signature_ns_per_doc" -> "ns",
    "core.signature_full_ns_per_doc" -> "ns", "core.jaccard_ns_per_pair" -> "ns",
    "core.lcs_ns_per_pair" -> "ns",
    "fingerprints.wall_s" -> "s", "fingerprints.task_cpu_s" -> "s",
    "candidates.wall_s" -> "s", "candidates.task_cpu_s" -> "s",
    "candidates.shuffle_write_mb" -> "MB", "candidates.band_rows" -> "count",
    "candidates.candidate_pairs" -> "count", "candidates.matched_per_candidate" -> "ratio",
    "pairs.verify_wall_s" -> "s", "pairs.substring_wall_s" -> "s",
    "pairs.substring_checked" -> "count", "pairs.substring_max_task_s" -> "s",
    "clusters.wall_s" -> "s", "clusters.star_rounds_s" -> "s", "clusters.star_rounds" -> "count",
    "store.wall_s" -> "s", "store.task_cpu_s" -> "s", "store.bytes_written_mb" -> "MB",
    "store.read_tasks" -> "count",
    "pipeline.spark_jobs" -> "count", "pipeline.job_gap_s" -> "s",
    "pipeline.unlabeled_wall_s" -> "s", "pipeline.incr_wall_s" -> "s",
    "output.write_wall_s" -> "s", "jvm.gc_s" -> "s", "trace.overhead_share" -> "ratio")

  def perLayer(values: Map[String, Double]): Seq[(String, Double, String)] =
    perLayerUnits.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",") + "}}"

  /** The per-label table of one traced op, and the wall-time accounting:
    * label rows + unlabeled + gap add up to the op's wall time. */
  def labels(o: Op): Unit = {
    val t = o.trace.get
    Main.say(f"trace op ${o.id} (gen ${o.gen}): ${t.spans.size} jobs, wall ${t.wallMs / 1e3}%.3f s")
    Main.say(f"  ${"label"}%-36s ${"wall_s"}%8s ${"jobs"}%5s ${"tasks"}%6s ${"cpu_s"}%7s " +
      f"${"shR_MB"}%7s ${"shW_MB"}%7s ${"spill_MB"}%8s ${"rec_in"}%9s ${"rec_out"}%9s ${"maxTask_s"}%9s")
    t.labels.toSeq.sortBy(-_._2.wallMs).foreach { case (l, c) =>
      Main.say(f"  $l%-36s ${c.wallMs / 1e3}%8.3f ${c.jobs}%5d ${c.tasks}%6d ${c.cpuNs / 1e9}%7.2f " +
        f"${c.shuffleReadB / 1048576.0}%7.2f ${c.shuffleWriteB / 1048576.0}%7.2f ${c.spillB / 1048576.0}%8.2f " +
        f"${c.recordsIn}%9d ${c.recordsOut}%9d ${c.maxTaskMs / 1e3}%9.3f")
    }
    val accounted = t.labels.values.map(_.wallMs).sum
    Main.say(f"  accounted ${accounted / 1e3}%.3f s of ${t.wallMs / 1e3}%.3f s wall " +
      f"(gap ${t.gapMs / 1e3}%.3f s)")
  }
}
