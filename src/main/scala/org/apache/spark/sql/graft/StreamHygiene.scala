package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.streaming.state.StateStore

/** Lifecycle hygiene for the JVM-wide streaming state-store registry.
  *
  * `StateStore.loadedProviders` is a process-global map: every stateful
  * streaming query loads one provider PER STATE PARTITION into it, each
  * holding the query's in-memory state maps (HDFS-backed provider) or an
  * open RocksDB working set. After the query terminates the providers
  * linger until the ~60 s maintenance sweep notices the run id is
  * inactive — a session that runs many short AvailableNow jobs
  * back-to-back therefore carries every FINISHED query's state as live
  * heap/native residue into its successors' timed regions (the r8
  * shared-lane inflation and the `stream_stream_join` warm>cold anomaly).
  *
  * This lives under `org.apache.spark.sql` because `StateStore` is
  * `private[sql]`; the call itself is the public-in-bytecode
  * `unloadAll()` that Spark's own executor shutdown path uses.
  */
object StreamHygiene {
  /** Close and drop every loaded state-store provider. Safe whenever no
    * streaming query is mid-batch (providers reload lazily on next use) —
    * and that precondition is self-enforced (r9 advice): `unloadAll()` is
    * JVM-global, so calling it while another session's query is mid-batch
    * would close that query's store under it. Callers here always await
    * termination first; the check turns a latent misuse into a loud error.
    *
    * Each session has its OWN StreamingQueryManager, and the repo's
    * streaming runners execute on `graft.GraftSession.child` sessions —
    * so the guard checks the calling thread's active session AND the
    * default (root) session (r10 advice). A query started on a session visible through
    * neither handle (another thread's child session) is outside what any
    * in-process check can enumerate; that residual blind spot is accepted
    * and documented rather than claimed covered. */
  def unloadStateStores(): Unit = {
    val sessions =
      org.apache.spark.sql.SparkSession.getActiveSession.toSeq ++
        org.apache.spark.sql.SparkSession.getDefaultSession.toSeq
    val active = sessions.distinct.map(_.streams.active.length).sum
    require(active == 0,
      s"unloadStateStores called with $active active streaming queries")
    StateStore.unloadAll()
  }

  /** Run MAINTENANCE on — then close and drop — every loaded provider.
    *
    * Maintenance is what uploads a RocksDB FULL SNAPSHOT under changelog
    * checkpointing: commits upload only the per-batch changelog, and the
    * snapshot upload normally rides the async background task (default
    * ~60 s interval), which a seconds-long AvailableNow run never
    * reaches. Forcing it between two legs of a checkpointed query makes
    * "a snapshot exists at the latest committed version" DETERMINISTIC —
    * the precondition the snapshot-anchored partition reconstruction
    * (`scan_state_snapshot`, the statestore source's
    * `snapshotStartBatchId`/`snapshotPartitionId` repair surface) needs
    * on every board run, with no timing dependence.
    *
    * The per-provider call is Spark's own public
    * `StateStore.doMaintenanceAndUnload` (maintenance then close,
    * synchronous); only the provider-id ENUMERATION goes through
    * reflection, because the registry is object-private and Spark
    * exposes no "list loaded providers" API. Same precondition as
    * [[unloadStateStores]]: callers must have awaited termination. */
  def maintainAndUnloadAll(): Unit = maintainAndUnload(_ => true)

  /** [[maintainAndUnloadAll]] restricted to the operators that NEED a
    * deterministic snapshot (r19 optimization): forcing maintenance on
    * every loaded provider zips + uploads a full snapshot per store
    * instance, but only the operator whose checkpoint feeds a
    * snapshot-anchored read requires one — the rest are unloaded without
    * the upload, exactly as [[unloadStateStores]] would. */
  def maintainAndUnload(needsSnapshot: Long => Boolean): Unit = {
    val sessions =
      org.apache.spark.sql.SparkSession.getActiveSession.toSeq ++
        org.apache.spark.sql.SparkSession.getDefaultSession.toSeq
    val active = sessions.distinct.map(_.streams.active.length).sum
    require(active == 0,
      s"maintainAndUnload called with $active active streaming queries")
    val m = StateStore.getClass.getDeclaredMethod("loadedProviders")
    m.setAccessible(true)
    val reg = m.invoke(StateStore).asInstanceOf[
      scala.collection.mutable.HashMap[
        org.apache.spark.sql.execution.streaming.state.StateStoreProviderId,
        org.apache.spark.sql.execution.streaming.state.StateStoreProvider]]
    val ids = reg.synchronized { reg.keys.toList }
    ids.filter(id => needsSnapshot(id.storeId.operatorId))
      .foreach(StateStore.doMaintenanceAndUnload)
    // belt-and-braces: anything loaded between enumeration and now, plus
    // every provider the predicate skipped
    StateStore.unloadAll()
  }
}
