package graft.streaming

import java.util.concurrent.Executors
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore,
  StateStoreId, StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery
import scala.util.control.NonFatal

/** The one way a job's streaming queries stop: stop each query, then
  * unload the state-store providers of its run.
  *
  * Spark keys a loaded provider by (store id, query run id) and keeps it
  * in `StateStore`'s loaded-provider map until the executor's periodic
  * maintenance pass (`spark.sql.streaming.stateStore.maintenanceInterval`,
  * 60 s) finds its run inactive. Until then a stopped run's whole state
  * (the HDFS provider caches up to two versions of each partition's map)
  * stays on the heap, and every stop, restore and auto-restart stacks
  * another copy. A restarted run uses the same store ids under a new run
  * id, so it never reads the old providers; they are only memory.
  *
  * Unloading closes a provider without a maintenance pass, so no snapshot
  * or cleanup file is written: the checkpoint, and a savepoint copied
  * from it, are the same as without the release. The release runs on one
  * daemon thread of its own, so a stop verb does not wait for the state
  * directory listing or the closes (each HDFS provider shuts down and
  * awaits its own checksum file manager pool). In local mode the driver
  * JVM is the executor, so this frees the state within milliseconds of
  * the stop. On a cluster the driver holds no providers; remote executors
  * keep Spark's own maintenance-time unload.
  */
object StateStores {

  /** Stop every query in `qs` and release the state of each one whose
    * stop returned. A query whose stop throws (its thread outlived
    * `spark.sql.streaming.stopTimeout`) does not keep the others running
    * and keeps its providers, which its thread may still use. Returns
    * those queries with their errors, in order.
    */
  def stop(qs: Seq[StreamingQuery]): Seq[(StreamingQuery, Throwable)] =
    qs.flatMap { q =>
      try { q.stop(); release(q); None }
      catch { case e: Throwable => Some(q -> e) }
    }

  /** Unload and close the loaded providers of `q`'s run on the release
    * thread. Call it after `q.stop()` has returned; a query that is still
    * active is left alone. Freeing memory never fails a verb: on an error
    * (an unreadable state directory) the rest stay loaded until Spark's
    * maintenance pass.
    */
  def release(q: StreamingQuery): Unit =
    if (!q.isActive) releaser.execute { () =>
      try providerIds(q).filter(StateStore.isLoaded)
        .foreach(StateStore.removeFromLoadedProvidersAndClose(_))
      catch { case NonFatal(_) => () }
    }

  /** Wait until every release handed over so far has run. */
  private[graft] def awaitReleased(): Unit =
    releaser.submit(new Runnable { def run(): Unit = () }).get()

  private lazy val releaser = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "graft-state-release")
    t.setDaemon(true)
    t
  }

  /** Every provider id `q`'s run may have loaded, read off its checkpoint:
    * each operator directory `state/<op>`, each partition `<op>/<part>`,
    * and the default store plus one named store per subdirectory of the
    * partition (a stream-stream join has four). Ids that were never
    * loaded are filtered out by the caller. The last executed plan would
    * name the same stores, but it is built lazily: a run stopped while
    * planning its first batch has none, and building it after the stop
    * would write that batch's state schema files into the checkpoint.
    * Empty when the session is not local: the ids would name providers
    * that live on other JVMs.
    */
  private def providerIds(q: StreamingQuery): Seq[StateStoreProviderId] =
    q match {
      case w: StreamingQueryWrapper if w.sparkSession.sparkContext.isLocal =>
        val exec = w.streamingQuery
        val stateRoot = new Path(exec.resolvedCheckpointRoot, "state")
        val fs = stateRoot.getFileSystem(
          exec.sparkSession.sessionState.newHadoopConf())
        def subdirs(dir: Path): Seq[Path] =
          if (!fs.exists(dir)) Nil
          else fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
        def numbered(dir: Path): Seq[Path] =
          subdirs(dir).filter(_.getName.forall(_.isDigit))
        for {
          op <- numbered(stateRoot)
          part <- numbered(op)
          name <- StateStoreId.DEFAULT_STORE_NAME +: subdirs(part).map(_.getName)
        } yield StateStoreProviderId(StateStoreId(stateRoot.toString,
          op.getName.toLong, part.getName.toInt, name), q.runId)
      case _ => Nil
    }
}
