package graft.ops

import java.util.concurrent.ConcurrentHashMap
import scala.concurrent.{ExecutionContext, Future}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's COMPLETE user-facing workflow as one Spark-native
  * facade — what a user of streamforge-data-pipeline actually calls:
  * upload a CSV, get a job id back immediately, poll status while a
  * background pipeline validates/classifies/dedups/loads, then read the
  * result summary + error report
  * (CsvUploadService.java:31-58 `processCsvAsync`,
  * CsvUploadController.java:59-68 status poll,
  * BackgroundCsvProcessor.java:56-113 pipeline).
  *
  * Mapping: the @Async executor → a Scala Future per job; the polled
  * ConcurrentHashMap → [[Progress.StatusStore]] fed by an accumulator
  * listener; CHUNK_COMMIT vs ALL_OR_NOTHING → bounded `maxRecordsPerFile`
  * task commits vs one atomic job commit; the error CSV side-channel →
  * comma-stripped text sink; the final UploadResult(processed, inserted,
  * failed, errorReport, errorCounts) → one aggregated pass over the
  * cached classified frame. At 100 TB the same calls hold: the driver
  * hands out job ids, executors stream the file splits, and status flows
  * through accumulators — nothing here is single-node. */
object UploadService {

  sealed trait CommitMode
  case object ChunkCommit extends CommitMode
  case object AllOrNothing extends CommitMode

  final case class UploadResult(processed: Long, inserted: Long, failed: Long,
                                loadedDir: String, errorReportDir: String,
                                errorCounts: Map[String, Long])

  /** The upload's four cells as strings, plus the reader's record of any
    * line whose token count is not four. */
  private val UploadSchema = StructType(
    Seq("externalId", "name", "quantity", "expiryDate", "_corrupt_record")
      .map(StructField(_, StringType)))

  final class Service(spark: SparkSession, existing: DataFrame, outBase: String)
                     (implicit ec: ExecutionContext = ExecutionContext.global) {

    val statusStore = new Progress.StatusStore
    private val results = new ConcurrentHashMap[String, Future[UploadResult]]()

    /** Async submit — returns the job id immediately, like POST /api/uploads. */
    def submit(csvPath: String, mode: CommitMode = ChunkCommit,
               chunkRows: Int = 1000): String = {
      val jobId = java.util.UUID.randomUUID.toString
      statusStore.update(jobId, Progress.Status("INIT", "accepted", 0L, -1L))
      results.put(jobId, Future(process(jobId, csvPath, mode, chunkRows)))
      jobId
    }

    /** Status poll, like GET /api/uploads/status?jobId=. */
    def status(jobId: String): Progress.Status = statusStore.get(jobId)

    /** Block for the final result (tests / synchronous callers). Unknown
      * job ids fail descriptively, mirroring the reference's 404 poll. */
    def await(jobId: String): UploadResult = {
      import scala.concurrent.duration._
      val f = Option(results.get(jobId)).getOrElse(throw
        new IllegalArgumentException(s"unknown job id: $jobId"))
      scala.concurrent.Await.result(f, 10.minutes)
    }

    private def process(jobId: String, csvPath: String, mode: CommitMode,
                        chunkRows: Int): UploadResult = try {
      import spark.implicits._
      // header CSV read with an explicit four-string schema (no header
      // inference job). An empty cell reads as null, like a missing one;
      // only a row with a token count other than four gets a
      // `_corrupt_record`, so "too few columns" is a corrupt row whose
      // last cell is missing (a long row keeps its first four cells).
      // Explicit global line id via zipWithIndex: contiguous and
      // independent of the split layout (a CSV big enough to be read as
      // multiple splits gets the same ids), unlike
      // monotonically_increasing_id whose values encode the partitioning.
      val parsed = spark.read.option("header", "true")
        .option("mode", "PERMISSIVE").schema(UploadSchema).csv(csvPath)
      // persist the parsed rows across zipWithIndex's two passes: it
      // first runs a partition-size job, then the data pass — uncached,
      // both would re-scan and re-parse the CSV
      val parsedRdd = parsed.rdd.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val raw = spark.createDataFrame(
        parsedRdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
        parsed.schema.add("line_id", org.apache.spark.sql.types.LongType))
        .select($"line_id",
          col("externalId").as("external_id_raw"),
          col("name").as("name_raw"),
          col("quantity").as("quantity_raw"),
          col("expiryDate").as("expiry_raw"),
          (col("_corrupt_record").isNull || col("expiryDate").isNotNull).as("arity_ok"))
      val classified = Ingest.classifyStaged(raw, existing).cacheOnce()
      val (counted, detach) = Progress.instrumented(classified, jobId, statusStore)
      try {
        statusStore.update(jobId, Progress.Status("PROCESSING", "classifying", 0L, -1L))
        // one aggregation gives the counters and the error histogram
        val byError = counted.groupBy($"error").count().collect()
          .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
        val processed = byError.values.sum
        val inserted = byError.getOrElse(None, 0L)
        val failed = processed - inserted
        val errorCounts = byError.collect { case (Some(e), n) => e -> n }

        statusStore.update(jobId, Progress.Status("WRITING",
          s"loading $inserted valid rows", processed, processed))
        val loadedDir = s"$outBase/$jobId/items"
        val valid = classified.filter($"error".isNull)
          .select($"ext".as("externalId"), $"nam".as("name"),
            expr("try_cast(qty AS INT)").as("quantity"),
            try_to_date($"exp", "yyyy-MM-dd").as("expiryDate"))
        mode match {
          case ChunkCommit =>
            valid.write.mode(SaveMode.Overwrite)
              .option("maxRecordsPerFile", chunkRows.toLong).parquet(loadedDir)
          case AllOrNothing =>
            valid.write.mode(SaveMode.Overwrite).parquet(loadedDir)
        }

        val errorReportDir = s"$outBase/$jobId/errors"
        classified.filter($"error".isNotNull)
          .orderBy($"line_id")
          .select(Ingest.reportLine.as("report_line"))
          .write.mode(SaveMode.Overwrite).text(errorReportDir)

        statusStore.update(jobId, Progress.Status("JOB_COMPLETE",
          s"inserted=$inserted failed=$failed", processed, processed))
        UploadResult(processed, inserted, failed, loadedDir, errorReportDir, errorCounts)
      } finally {
        detach()
        classified.unpersist()
        parsedRdd.unpersist(blocking = false)
      }
    } catch {
      case e: Throwable =>
        statusStore.update(jobId,
          Progress.Status("JOB_FAILED", e.getMessage, 0L, -1L))
        throw e
    }
  }
}
