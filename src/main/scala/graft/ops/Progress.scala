package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Progress observability (SURVEY §2.A `progress_cadence` +
  * `state_job_status` infrastructure side).
  *
  * The reference mutates a polled status map every 5000 rows
  * (BackgroundCsvProcessor.java:134-136; CsvUploadService.java:39-49).
  * The Spark-native analog: a `LongAccumulator` counted inside the
  * pipeline (no extra pre-scan pass — the reference's countLines double
  * read is deliberately NOT replicated, SURVEY §4) plus a driver-side
  * status store fed by a `SparkListener` as task updates merge.
  *
  * Cluster-scale note: ONLY the accumulator is captured by the executor
  * closure — accumulators are Spark's wire format for exactly this.
  * The status store never leaves the driver; the listener observes the
  * merged count on each task end, which is how progress reporting must
  * work on a 1000-executor cluster (executors cannot reach a driver map).
  */
object Progress {

  /** In-memory job-status store: jobId → (step, message, processed, total).
    * The reference's ConcurrentHashMap made explicit. Driver-side only. */
  final case class Status(step: String, message: String,
                          processed: Long, total: Long)

  final class StatusStore {
    private val m = new java.util.concurrent.ConcurrentHashMap[String, Status]()
    def update(jobId: String, s: Status): Unit = m.put(jobId, s)
    /** A progress tick: report `seen` rows on the job's current step once
      * it is ≥ `cadence` past the count last reported. A tick never moves
      * the step and is dropped once the job has ended: the listener bus
      * can deliver it after later steps were set. */
    def tick(jobId: String, seen: Long, cadence: Long): Unit =
      m.computeIfPresent(jobId, (_, s) =>
        if (s.step.startsWith("JOB_") || seen - s.processed < cadence) s
        else s.copy(message = s"rows so far: $seen", processed = seen))
    def get(jobId: String): Status =
      m.getOrDefault(jobId, Status("NOT_FOUND", "unknown job", 0L, 0L))
    def snapshot: Map[String, Status] = {
      import scala.jdk.CollectionConverters._
      m.asScala.toMap
    }
  }

  /** Instrument `df` so rows flowing through it increment a named
    * accumulator; a driver-side listener mirrors the merged count into
    * `store` whenever it has grown by ≥ `cadence` since the last report
    * (the reference throttles to every 5000 rows the same way).
    * Returns (instrumented frame, deregister-listener thunk). */
  def instrumented(df: DataFrame, jobId: String, store: StatusStore,
                   cadence: Long = 5000L): (DataFrame, () => Unit) = {
    val spark = df.sparkSession
    val acc = spark.sparkContext.longAccumulator(s"graft_rows_$jobId")
    val listener = new SparkListener {
      override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit =
        store.tick(jobId, acc.value, cadence)
    }
    spark.sparkContext.addSparkListener(listener)
    val enc = org.apache.spark.sql.Encoders.row(df.schema)
    val out = df.mapPartitions { rows =>
      rows.map { r => acc.add(1L); r }
    }(enc)
    (out, () => spark.sparkContext.removeSparkListener(listener))
  }

  /** End-to-end instrumented run of the ingestion pipeline: classify,
    * route, count — status transitions mirror the reference's
    * INIT → PROCESSING → JOB_COMPLETE sequence. */
  def runInstrumentedIngest(spark: SparkSession, sfDir: String,
                            jobId: String, store: StatusStore): Status = {
    store.update(jobId, Status("INIT", "starting", 0L, -1L))
    store.update(jobId, Status("PROCESSING", "classifying", 0L, -1L))
    val classified = Ingest.classified(spark, sfDir)
    val (counted, detach) = instrumented(classified, jobId, store)
    try {
      val agg = counted.agg(
        count(lit(1)).as("processed"),
        count(when(col("error").isNull, 1)).as("inserted"),
        count(when(col("error").isNotNull, 1)).as("failed")).collect()(0)
      val done = Status("JOB_COMPLETE",
        s"inserted=${agg.getLong(1)} failed=${agg.getLong(2)}",
        agg.getLong(0), agg.getLong(0))
      store.update(jobId, done)
      done
    } finally detach()
  }
}
