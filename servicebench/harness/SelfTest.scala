package servicebench

import java.io.File
import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.SparkEntry
import graft.ops.{Residue, Streaming, UploadService}

/** Self-test of the output checks: each planted fault must make its check
  * fail and name the op, and the query fingerprints must not depend on
  * the number of cores. Prints one PASS/FAIL line per case; exit code 0
  * when all pass. */
object SelfTest {
  def run(root: File, work: File): Int = {
    var bad = 0
    def expect(name: String, ok: Boolean, detail: String): Unit = {
      println(s"selftest ${if (ok) "PASS" else "FAIL"} $name: $detail")
      if (!ok) bad += 1
    }
    def named(op: String, r: Option[String]) = r.exists(_.startsWith(op))

    val ctx = new Ctx("selftest", 7L, 1.0, false, root, work)
    Layers.deleteRec(new File(work, "selftest"))
    val dir = new File(work, "selftest")
    dir.mkdirs()
    var spark = ctx.session(4)

    // uploads: one real 2k-row upload, then three planted faults
    val existing = new File(dir, "existing.parquet").getPath
    spark.range(Gen.ExistingKeys).select(
      (lit(Gen.ExistingBase) + col("id")).cast("string").as("external_id"))
      .write.parquet(existing)
    val lines = Gen.lines(7L, 0, 2000)
    val csv = new File(dir, "u0.csv").getPath
    Gen.write(Paths.get(csv), lines)
    val svc = new UploadService.Service(spark, spark.read.parquet(existing),
      new File(dir, "uploads").getPath)
    val got = Got.read(spark, svc.await(svc.submit(csv, UploadService.AllOrNothing)))
    val exp = Gen.expected(lines)
    val op = "upload-0"
    val clean = Got.check(op, exp, got)
    expect("upload as produced", clean.isEmpty, clean.getOrElse("matches the generator"))
    val dropped = Got.check(op, exp, got.copy(loaded = got.loaded.tail))
    expect("drop one loaded row", named(op, dropped), dropped.getOrElse("not detected"))
    val flipped = Got.check(op, exp, got.copy(inserted = got.inserted - 1, failed = got.failed + 1))
    expect("flip one verdict", named(op, flipped), flipped.getOrElse("not detected"))
    val other = if (got.reasons.head == Gen.ErrQty) Gen.ErrDate else Gen.ErrQty
    val reason = Got.check(op, exp, got.copy(reasons = (other +: got.reasons.tail).sorted))
    expect("change one report reason", named(op, reason), reason.getOrElse("not detected"))

    // queries: fingerprints under local[4], two planted perturbations,
    // then the same fingerprints under local[2]
    val mix = MixQuery.load(root)
    def fingerprints(s: SparkSession): Map[String, (Long, BigDecimal)] = {
      var prev = ""
      val fps = mix.map { q =>
        if (q.module != prev) { Residue.familyBoundary(s); prev = q.module }
        q.name -> Fingerprint.of(SparkEntry.queries(q.name)(s, ctx.dataDir))
      }.toMap
      Residue.familyBoundary(s)
      Streaming.sweepAllScratch()
      fps
    }
    val four = fingerprints(spark)
    val first = mix.head.name
    val dup = Fingerprint.check(first, Fingerprint.of {
      val df = SparkEntry.queries(first)(spark, ctx.dataDir); df.union(df.limit(1)) }, four.get(first))
    expect("duplicate one result row", named(first, dup), dup.getOrElse("not detected"))
    val withDouble = mix.map(_.name).find(n =>
      SparkEntry.queries(n)(spark, ctx.dataDir).schema.exists(_.dataType == DoubleType))
    withDouble.foreach { n =>
      val df = SparkEntry.queries(n)(spark, ctx.dataDir)
      val c = df.schema.find(_.dataType == DoubleType).get.name
      val r = Fingerprint.check(n, Fingerprint.of(df.withColumn(c, col(c) * 1.000001)), four.get(n))
      expect(s"perturb column $c by 1e-6", named(n, r), r.getOrElse("not detected"))
    }
    spark.stop()
    spark = ctx.session(2)
    val two = fingerprints(spark)
    spark.stop()
    val differ = mix.map(_.name).filter(n => four(n) != two(n))
    expect("local[2] and local[4] fingerprints agree", differ.isEmpty,
      if (differ.isEmpty) s"${mix.size} queries" else differ.mkString("differ: ", ", ", ""))
    Layers.deleteRec(dir)
    println(s"selftest ${if (bad == 0) "ok" else s"$bad failed"}")
    if (bad == 0) 0 else 1
  }
}
