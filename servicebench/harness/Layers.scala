package servicebench

import java.io.File

/** Every per-layer metric a traced run prints, with its unit. A metric
  * that the workload does not exercise prints 0. */
object Layers {
  val Modules = Seq("Relational", "TpchSql", "Windows", "Functions", "Analytics",
    "TextSim", "Similarity", "Curation", "Quality", "Multimodal", "Ingest", "Streaming")

  val all: Seq[(String, String)] = Seq(
    "UploadService.submit_ms" -> "ms",
    "UploadService.jobs" -> "count",
    "UploadService.tasks" -> "count",
    "UploadService.driver_ms" -> "ms",
    "Progress.first_update_ms" -> "ms",
    "Progress.status_get_us" -> "us",
    "UploadService.parse_ms" -> "ms",
    "Ingest.classify_ms" -> "ms",
    "UploadService.load_write_ms" -> "ms",
    "UploadService.report_write_ms" -> "ms",
    "UploadService.histogram_ms" -> "ms",
    "UploadService.files_written" -> "count",
    "UploadService.bytes_written" -> "bytes",
    "UploadService.rows_per_s" -> "1/s",
    "UploadService.probe_wrong_verdicts" -> "count",
    "UploadService.probe_wrong_report_lines" -> "count",
    "spark.executor_cpu_ms" -> "ms",
    "spark.executor_run_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms",
    "analyst_mix.pass_s" -> "s",
    "Residue.hygiene_ms" -> "ms",
    "Streaming.run_ms" -> "ms",
    "Streaming.reader_ms" -> "ms",
    "Streaming.runs" -> "count",
    "Streaming.batches" -> "count",
    "Streaming.addBatch_ms" -> "ms",
    "Streaming.commit_ms" -> "ms",
    "Streaming.walCommit_ms" -> "ms",
    "Streaming.queryPlanning_ms" -> "ms",
    "Streaming.state_rows" -> "count",
    "Streaming.state_bytes" -> "bytes") ++
    Modules.flatMap(m => Seq(s"$m.build_ms" -> "ms", s"$m.exec_ms" -> "ms",
      s"$m.jobs" -> "count", s"$m.driver_ms" -> "ms", s"$m.shuffle_bytes" -> "bytes",
      s"$m.gc_ms" -> "ms")) ++
    Seq("trace.op_p50_s" -> "s", "trace.op_p90_s" -> "s", "trace.ops_per_s" -> "1/s",
      "trace.cpu_s_per_op" -> "s", "trace.jit_cpu_s_per_op" -> "s",
      "trace.gc_cpu_s_per_op" -> "s", "trace.peak_rss_mb" -> "MB",
      "trace.unattributed_job_share" -> "ratio")

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRec)
    f.delete()
  }
}
