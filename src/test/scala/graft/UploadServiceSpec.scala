package graft

import java.nio.file.{Files, Paths}
import scala.concurrent.ExecutionContext
import org.apache.spark.sql.functions._
import graft.ops.{Sinks, UploadService}

/** End-to-end reference workflow: submit → async status → result + error
  * report — the surface a streamforge-data-pipeline user actually calls. */
class UploadServiceSpec extends SparkSuite {
  import spark.implicits._

  /** A CSV with known-valid and known-broken rows: 100 clean generator
    * rows plus 4 handcrafted error rows (dup / bad qty / bad date /
    * missing cells). */
  private def fixture(): (String, Long, Long) = {
    val dir = Files.createTempDirectory("graft_upload").toString
    val csv = s"$dir/upload.csv"
    val clean = Sinks.genSynthetic(spark, 100).collect().map(r =>
      s"${r.getString(0)},${r.getString(1)},${r.getInt(2)},${r.getString(3)}")
    val broken = Seq(
      "1000000000,DupOfFirst,5,2026-02-02",   // duplicate externalId
      "E900001,BadQty,notanint,2026-02-02",   // quantity invalid
      "E900002,BadDate,7,02/02/2026",         // date invalid
      "E900003,,8,2026-02-02")                // name empty
    val lines = ("externalId,name,quantity,expiryDate" +: (clean ++ broken))
    Files.write(Paths.get(csv), String.join("\n", lines: _*).getBytes)
    (csv, clean.length.toLong, broken.length.toLong)
  }

  test("chunked upload: async status reaches JOB_COMPLETE, counts add up") {
    val (csv, nClean, nBroken) = fixture()
    val out = Files.createTempDirectory("graft_upload_out").toString
    val existing = Seq.empty[String].toDF("external_id")
    val svc = new UploadService.Service(spark, existing, out)
    val jobId = svc.submit(csv, UploadService.ChunkCommit, chunkRows = 30)
    val res = svc.await(jobId)
    assert(svc.status(jobId).step == "JOB_COMPLETE")
    assert(res.processed == nClean + nBroken)
    assert(res.inserted == nClean && res.failed == nBroken)
    assert(res.errorCounts.values.sum == nBroken)
    // loaded table readable and typed; chunk bound respected
    val loaded = spark.read.parquet(res.loadedDir)
    assert(loaded.count() == nClean)
    assert(loaded.schema("quantity").dataType.typeName == "integer")
    // error report has one comma-stripped line per rejected row
    assert(spark.read.text(res.errorReportDir).count() == nBroken)
  }

  test("existing-key dedup rejects rows already loaded") {
    val (csv, nClean, nBroken) = fixture()
    val out = Files.createTempDirectory("graft_upload_out2").toString
    // every generator key is already present → all clean rows are dups
    val existing = Sinks.genSynthetic(spark, 100)
      .select($"externalId".as("external_id"))
    val svc = new UploadService.Service(spark, existing, out)
    val res = svc.await(svc.submit(csv))
    assert(res.inserted == 0)
    assert(res.failed == nClean + nBroken)
  }

  test("concurrent jobs keep isolated status and results") {
    val (csv, nClean, nBroken) = fixture()
    val out = Files.createTempDirectory("graft_upload_conc").toString
    val svc = new UploadService.Service(spark,
      Seq.empty[String].toDF("external_id"), out)
    // the reference runs a 5-thread executor (AsyncConfig.java:15-17);
    // two in-flight jobs must not cross status or output paths
    val j1 = svc.submit(csv, UploadService.ChunkCommit)
    val j2 = svc.submit(csv, UploadService.AllOrNothing)
    val (r1, r2) = (svc.await(j1), svc.await(j2))
    assert(j1 != j2 && r1.loadedDir != r2.loadedDir)
    for (r <- Seq(r1, r2)) {
      assert(r.processed == nClean + nBroken && r.inserted == nClean)
      assert(spark.read.parquet(r.loadedDir).count() == nClean)
    }
    assert(svc.status(j1).step == "JOB_COMPLETE" && svc.status(j2).step == "JOB_COMPLETE")
  }

  test("unknown job id: await fails descriptively, status reports NOT_FOUND") {
    val out = Files.createTempDirectory("graft_upload_unknown").toString
    val svc = new UploadService.Service(spark,
      Seq.empty[String].toDF("external_id"), out)
    val e = intercept[IllegalArgumentException](svc.await("no-such-job"))
    assert(e.getMessage.contains("no-such-job"))
    assert(svc.status("no-such-job").step == "NOT_FOUND")
  }

  /** The data files of an output dir, in part-file order. */
  private def partFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)

  test("line ids follow file order even when the CSV reads as multiple splits") {
    val (csv, nClean, nBroken) = fixture()
    val out = Files.createTempDirectory("graft_upload_split").toString
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1024") // ~4 KB fixture → several input splits
    try {
      // precondition: the conf really makes this a multi-split read
      assert(spark.read.option("header", "true").csv(csv)
        .rdd.getNumPartitions > 1)
      val svc = new UploadService.Service(spark,
        Seq.empty[String].toDF("external_id"), out)
      val res = svc.await(svc.submit(csv, UploadService.AllOrNothing))
      assert(res.inserted == nClean && res.failed == nBroken)
      // the Service itself read several splits: one job commit writes a
      // part file per task
      assert(partFiles(res.loadedDir).size > 1)
      // first-wins dedup is line-order dependent: the generator row on
      // line 1 must beat its duplicate on line 101 regardless of splits
      val kept = spark.read.parquet(res.loadedDir)
        .filter($"externalId" === "1000000000")
        .select($"name").head().getString(0)
      assert(kept.startsWith("Item_"), s"dup row won over the first row: $kept")
      // the report, read in part-file order, is in line order
      val report = partFiles(res.errorReportDir).flatMap(f =>
        scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(f.toPath)).asScala)
      assert(report == Seq(
        "1000000000,DupOfFirst,5,2026-02-02,duplicate externalId",
        "E900001,BadQty,notanint,2026-02-02,quantity invalid",
        "E900002,BadDate,7,02/02/2026,expiryDate invalid (expected yyyy-MM-dd)",
        "E900003,,8,2026-02-02,name empty"))
    } finally spark.conf.set(key, prev)
  }

  test("a single-split upload runs at most 4 Spark jobs") {
    val (csv, nClean, nBroken) = fixture()
    assert(spark.read.option("header", "true").csv(csv).rdd.getNumPartitions == 1)
    val out = Files.createTempDirectory("graft_upload_jobs").toString
    // tag the Service's jobs: they run on its own threads
    val sc = spark.sparkContext
    val tagging = new ExecutionContext {
      def execute(r: Runnable): Unit = ExecutionContext.global.execute { () =>
        sc.setLocalProperty(SparkSuite.JobTag, "upload")
        try r.run() finally sc.setLocalProperty(SparkSuite.JobTag, null)
      }
      def reportFailure(t: Throwable): Unit = ExecutionContext.global.reportFailure(t)
    }
    val svc = new UploadService.Service(spark,
      Seq.empty[String].toDF("external_id"), out)(tagging)
    val (res, jobs) = countJobs("upload")(svc.await(svc.submit(csv, UploadService.AllOrNothing)))
    assert(res.inserted == nClean && res.failed == nBroken)
    assert(jobs <= 4, s"$jobs Spark jobs for one single-split upload")
  }

  /** Runs each submitted upload on a global thread once `go` opens, with
    * its Spark jobs tagged "upload". */
  private def taggedAfter(go: java.util.concurrent.CountDownLatch): ExecutionContext = {
    val sc = spark.sparkContext
    new ExecutionContext {
      def execute(r: Runnable): Unit = ExecutionContext.global.execute { () =>
        go.await()
        sc.setLocalProperty(SparkSuite.JobTag, "upload")
        try r.run() finally sc.setLocalProperty(SparkSuite.JobTag, null)
      }
      def reportFailure(t: Throwable): Unit = ExecutionContext.global.reportFailure(t)
    }
  }

  test("a single-split upload is 2 Spark jobs, writes no shuffle, walks INIT to JOB_COMPLETE") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val (csv, nClean, nBroken) = fixture()
    val out = Files.createTempDirectory("graft_upload_two").toString
    val go = new java.util.concurrent.CountDownLatch(1)
    val svc = new UploadService.Service(spark,
      Seq.empty[String].toDF("external_id"), out)(taggedAfter(go))
    // shuffle bytes written by the tasks of the upload's jobs
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(SparkSuite.JobTag) == "upload"))
          j.stageIds.foreach(stages.add)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val ((res, walk), jobs) = countJobs("upload") {
        val jobId = svc.submit(csv, UploadService.AllOrNothing)
        // the job is held, so the first poll sees INIT; then every step
        // change is recorded until the job ends
        val walk = scala.collection.mutable.ArrayBuffer(svc.status(jobId).step)
        go.countDown()
        while (!walk.last.startsWith("JOB_")) {
          val step = svc.status(jobId).step
          if (step != walk.last) walk += step
        }
        (svc.await(jobId), walk.toSeq)
      }
      assert(res.inserted == nClean && res.failed == nBroken)
      assert(walk == Seq("INIT", "PROCESSING", "WRITING", "JOB_COMPLETE"))
      assert(jobs <= 2, s"$jobs Spark jobs for one single-split upload")
      // countJobs has flushed the listener bus past the upload's tasks
      assert(shuffleBytes.get == 0L, s"${shuffleBytes.get} shuffle bytes written")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("many splits keep file order: first occurrences win, the report follows the lines") {
    val dir = Files.createTempDirectory("graft_upload_many").toString
    val csv = s"$dir/upload.csv"
    val clean = Sinks.genSynthetic(spark, 400).collect().map(r =>
      s"${r.getString(0)},${r.getString(1)},${r.getInt(2)},${r.getString(3)}")
    val broken = Seq(
      "E900001,BadQty,notanint,2026-02-02",
      "1000000000,DupOfFirst,5,2026-02-02",   // duplicate of line 1
      "E900002,BadDate,7,02/02/2026",
      "1000000399,DupOfLast,6,2026-02-02",    // duplicate of line 400
      "E900003,,8,2026-02-02")
    Files.write(Paths.get(csv), ("externalId,name,quantity,expiryDate" +: (clean ++ broken))
      .mkString("", "\n", "\n").getBytes)
    val out = Files.createTempDirectory("graft_upload_many_out").toString
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "300") // ~15 KB CSV → dozens of input splits
    try {
      val splits = spark.read.option("header", "true").csv(csv).rdd.getNumPartitions
      assert(splits > 20, s"$splits splits")
      val svc = new UploadService.Service(spark,
        Seq.empty[String].toDF("external_id"), out)
      val res = svc.await(svc.submit(csv, UploadService.AllOrNothing))
      assert((res.inserted, res.failed) == ((400L, 5L)))
      val names = spark.read.parquet(res.loadedDir)
        .filter($"externalId".isin("1000000000", "1000000399"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(names.keySet == Set("1000000000", "1000000399"))
      assert(names.values.forall(_.startsWith("Item_")), s"a later duplicate won: $names")
      val report = partFiles(res.errorReportDir).flatMap(f =>
        scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(f.toPath)).asScala)
      assert(report == Seq(
        "E900001,BadQty,notanint,2026-02-02,quantity invalid",
        "1000000000,DupOfFirst,5,2026-02-02,duplicate externalId",
        "E900002,BadDate,7,02/02/2026,expiryDate invalid (expected yyyy-MM-dd)",
        "1000000399,DupOfLast,6,2026-02-02,duplicate externalId",
        "E900003,,8,2026-02-02,name empty"))
    } finally spark.conf.set(key, prev)
  }

  test("empty inputs reach JOB_COMPLETE with zero counts: header only, zero bytes") {
    val dir = Files.createTempDirectory("graft_upload_none").toString
    val out = Files.createTempDirectory("graft_upload_none_out").toString
    val svc = new UploadService.Service(spark,
      Seq.empty[String].toDF("external_id"), out)
    for ((name, body) <- Seq("header.csv" -> "externalId,name,quantity,expiryDate\n",
                             "zero.csv" -> "")) {
      val csv = s"$dir/$name"
      Files.write(Paths.get(csv), body.getBytes)
      val jobId = svc.submit(csv, UploadService.AllOrNothing)
      val res = svc.await(jobId)
      assert(svc.status(jobId).step == "JOB_COMPLETE", name)
      assert((res.processed, res.inserted, res.failed) == ((0L, 0L, 0L)), name)
      assert(res.errorCounts.isEmpty, name)
    }
  }

  test("the existing-key index is held: the Service sees existing as it was when built") {
    val dir = Files.createTempDirectory("graft_upload_held").toString
    val existingDir = s"$dir/existing.parquet"
    Seq("H1", "H2").toDF("external_id").write.parquet(existingDir)
    val out = Files.createTempDirectory("graft_upload_held_out").toString
    val svc = new UploadService.Service(spark, spark.read.parquet(existingDir), out)
    // the existing table's files are gone before the first upload
    scala.reflect.io.Directory(new java.io.File(existingDir)).deleteRecursively()
    val csv = s"$dir/upload.csv"
    Files.write(Paths.get(csv), Seq("externalId,name,quantity,expiryDate",
      "H1,Again,3,2026-03-03", "N1,Fresh,4,2026-03-03").mkString("", "\n", "\n").getBytes)
    val jobId = svc.submit(csv, UploadService.AllOrNothing)
    val res = svc.await(jobId)
    assert(svc.status(jobId).step == "JOB_COMPLETE")
    assert((res.processed, res.inserted, res.failed) == ((2L, 1L, 1L)))
    assert(res.errorCounts == Map("duplicate externalId" -> 1L))
    assert(spark.read.text(res.errorReportDir).collect().map(_.getString(0)).toSeq ==
      Seq("H1,Again,3,2026-03-03,duplicate externalId"))
  }

  test("empty cells are nullable values, not missing columns; report lines keep raw cells") {
    val dir = Files.createTempDirectory("graft_upload_empty").toString
    val csv = s"$dir/upload.csv"
    val lines = Seq("externalId,name,quantity,expiryDate",
      "P1,Widget,5,2026-09-01",
      "P2,Widget,,2026-09-01",          // empty quantity: valid
      "P3,Widget,5,",                   // empty expiryDate: valid
      "P4,Widget,,",                    // both empty: valid
      "P5,,5,2026-09-01",               // empty name
      "P6,OnlyTwo",                     // short row
      "   ,Widget,5,2026-09-01",        // whitespace-only externalId
      "P7,Widget,5,2026-09-01,extra")   // long row keeps its first four cells
    Files.write(Paths.get(csv), lines.mkString("", "\n", "\n").getBytes)
    val out = Files.createTempDirectory("graft_upload_empty_out").toString
    val svc = new UploadService.Service(spark,
      Seq.empty[String].toDF("external_id"), out)
    val res = svc.await(svc.submit(csv, UploadService.AllOrNothing))
    assert((res.processed, res.inserted, res.failed) == ((8L, 5L, 3L)))
    assert(res.errorCounts == Map("name empty" -> 1L,
      "too few columns" -> 1L, "externalId empty" -> 1L))
    val loaded = spark.read.parquet(res.loadedDir).collect()
      .map(r => r.getString(0) -> (Option(r.get(2)), Option(r.get(3)).map(_.toString)))
      .toMap
    assert(loaded.keySet == Set("P1", "P2", "P3", "P4", "P7"))
    assert(loaded("P2") == ((None, Some("2026-09-01"))))
    assert(loaded("P3") == ((Some(5), None)))
    assert(loaded("P4") == ((None, None)))
    assert(loaded("P7") == ((Some(5), Some("2026-09-01"))))
    // the reference's report line: raw cells, null as "", commas stripped
    assert(spark.read.text(res.errorReportDir).collect().map(_.getString(0)).toSet == Set(
      "P5,,5,2026-09-01,name empty",
      "P6,OnlyTwo,,,too few columns",
      "   ,Widget,5,2026-09-01,externalId empty"))
  }

  test("a missing input fails the job with JOB_FAILED status") {
    val out = Files.createTempDirectory("graft_upload_out3").toString
    val svc = new UploadService.Service(spark,
      Seq.empty[String].toDF("external_id"), out)
    val jobId = svc.submit("/nonexistent/upload.csv")
    intercept[Throwable](svc.await(jobId))
    assert(svc.status(jobId).step == "JOB_FAILED")
  }
}
