package graft

import org.apache.spark.storage.StorageLevel
import graft.ops.Residue

/** Lifecycle contract of the checkpoint-residue registry (r10): a warm
  * re-invocation must never be slower than cold because of the previous
  * invocation's localCheckpoint blocks — Residue frees blocks on
  * re-entry (swap) and at family boundaries (freeAll). */
class ResidueSpec extends SparkSuite {
  import spark.implicits._

  private def persistedRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.getStorageLevel != StorageLevel.NONE => id
    }.toSet

  private def checkpointRddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.getOrElse(fail("no LogicalRDD in plan — not a checkpointed frame"))

  test("swap materializes eagerly and frees the previous holder on re-entry") {
    val a = Residue.swap("residue_spec.k1", spark.range(100).toDF("id"))
    val idA = checkpointRddId(a)
    assert(persistedRddIds.contains(idA), "swap must materialize blocks")
    assert(a.count() == 100)
    // second invocation under the SAME key: previous blocks must be freed
    val b = Residue.swap("residue_spec.k1", spark.range(50).toDF("id"))
    val idB = checkpointRddId(b)
    assert(!persistedRddIds.contains(idA),
      "re-entry must unpersist the previous invocation's blocks")
    assert(persistedRddIds.contains(idB))
    assert(b.count() == 50)
    Residue.free("residue_spec.k1")
  }

  test("freeAll drops every registered frame; keys are independent") {
    val x = Residue.swap("residue_spec.x", spark.range(10).toDF("id"))
    val y = Residue.swap("residue_spec.y", spark.range(20).toDF("id"))
    val (ix, iy) = (checkpointRddId(x), checkpointRddId(y))
    // freeing one key leaves the other untouched
    Residue.free("residue_spec.x")
    assert(!persistedRddIds.contains(ix))
    assert(persistedRddIds.contains(iy))
    Residue.freeAll()
    assert(!persistedRddIds.contains(iy),
      "freeAll must unpersist all registered frames")
  }

  test("track registers an already-materialized frame without re-checkpointing") {
    val cp = spark.range(30).toDF("id").localCheckpoint()
    val id = checkpointRddId(cp)
    val tracked = Residue.track("residue_spec.t", cp)
    assert(checkpointRddId(tracked) == id, "track must not rebuild the frame")
    Residue.free("residue_spec.t")
    assert(!persistedRddIds.contains(id))
  }

  test("swapOnce: concurrent first callers build once, later calls reuse, free forces a rebuild") {
    val key = "residue_spec.once"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def df = { builds.incrementAndGet(); spark.range(40).toDF("id") }
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
          def call() = { gate.await(); Residue.swapOnce(key, df) }
        }))
      gate.countDown()
      val got = calls.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get == 1, "one key must build once")
      assert(got.forall(_ eq got.head))
      assert(persistedRddIds.contains(checkpointRddId(got.head)))
      assert(Residue.swapOnce(key, df) eq got.head)
      Residue.free(key)
      val again = Residue.swapOnce(key, df)
      assert(builds.get == 2 && checkpointRddId(again) != checkpointRddId(got.head))
      assert(again.count() == 40)
    } finally {
      pool.shutdown()
      Residue.free(key)
    }
  }

  test("free on an unknown key is a no-op") {
    Residue.free("residue_spec.never_registered")
  }

  test("freeing a key never destroys blocks owned by another live key") {
    // key B's frame EMBEDS key A's checkpoint RDD (a projection over it).
    // Ownership is per-RDD, recorded at registration: B must not claim
    // A's RDD, so freeing B leaves A's only copy of the data alive.
    val a = Residue.swap("residue_spec.owner", spark.range(40).toDF("id"))
    val idA = checkpointRddId(a)
    val b = Residue.track("residue_spec.borrower", a.filter($"id" < 10))
    assert(checkpointRddId(b) == idA, "borrower embeds the owner's RDD")
    Residue.free("residue_spec.borrower")
    assert(persistedRddIds.contains(idA),
      "freeing the borrower must not unpersist the owner's blocks")
    assert(a.count() == 40, "owner's data must survive the borrower's free")
    Residue.free("residue_spec.owner")
    assert(!persistedRddIds.contains(idA))
  }

  test("freeing the OWNER transfers a still-borrowed RDD instead of unpersisting or leaking it") {
    // the r12 reverse direction: key B's frame embeds key A's checkpoint
    // RDD, and A is freed FIRST. Unpersisting would leave B unqueryable
    // (localCheckpoint blocks cannot be recomputed); skipping without
    // transfer would leak the blocks when B is later freed. Ownership
    // must move to B: blocks alive after A's free, gone after B's.
    val a = Residue.swap("residue_spec.owner2", spark.range(40).toDF("id"))
    val idA = checkpointRddId(a)
    val b = Residue.track("residue_spec.borrower2", a.filter($"id" < 10))
    assert(checkpointRddId(b) == idA, "borrower embeds the owner's RDD")
    Residue.free("residue_spec.owner2")
    assert(persistedRddIds.contains(idA),
      "freeing the owner must not unpersist blocks a live borrower embeds")
    assert(b.count() == 10, "borrower must stay queryable after owner's free")
    Residue.free("residue_spec.borrower2")
    assert(!persistedRddIds.contains(idA),
      "the transferred RDD must be released with the borrower, not leaked")
  }

  test("re-tracking a frame that shares its predecessor's blocks keeps them") {
    val cp = spark.range(25).toDF("id").localCheckpoint()
    val id = checkpointRddId(cp)
    Residue.track("residue_spec.rt", cp)
    // fixpoint-loop shape: the next round re-tracks a PROJECTION over the
    // same checkpoint — the shared RDD must survive the re-entry free
    val next = Residue.track("residue_spec.rt", cp.select($"id"))
    assert(persistedRddIds.contains(id),
      "re-track must not unpersist blocks the new frame still embeds")
    assert(next.count() == 25)
    Residue.free("residue_spec.rt")
    assert(!persistedRddIds.contains(id))
  }

  test("pipeline_dedup_e2e warm re-invocation builds no second cache generation") {
    // r9-r10 measured warm-alone SLOWER than cold for this query; the r11
    // probe (plan diff at sf0.1) showed cold and warm plans are
    // operator-identical (45 InMemoryTableScans each) and warm 1.7 s vs
    // cold 14.3 s once the lane's GC settle landed — the inversion was the
    // measurement rig, not a stale cache. This pins the invariant that
    // made that true: the stage caches are PLAN-KEYED, so re-invocation
    // lands on the same entries and persists nothing new.
    spark.catalog.clearCache()
    Residue.freeAll()
    val cold = ops.Curation.pipelineDedupE2e(spark, sfDir)
    cold.count()
    val after1 = persistedRddIds
    val warm = ops.Curation.pipelineDedupE2e(spark, sfDir)
    warm.count()
    assert(persistedRddIds == after1,
      "warm re-invocation must hit the cold run's cache entries, not add a generation")
    def scans(df: org.apache.spark.sql.DataFrame): Int =
      "InMemoryTableScan".r.findAllIn(df.queryExecution.executedPlan.toString).size
    assert(scans(warm) == scans(cold),
      "warm plan must substitute the same cached subtrees as cold")
    spark.catalog.clearCache()
    Residue.freeAll()
  }
}
