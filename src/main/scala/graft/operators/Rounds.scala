package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Per-round state saves for the iterative operators (the Graph loops and
  * [[Dedup.connectedComponents]]): one checkpoint-medium decision and one
  * block-manager hygiene rule. */
private[operators] object Rounds {

  /** Checkpoint MEDIUM: `localCheckpoint` stores executor-local blocks
    * with TRUNCATED lineage — cheap, but on a real cluster an executor
    * loss (or memory-pressure eviction) makes round state unrecoverable
    * mid-query. With `spark.graft.checkpointDir` set on the session,
    * every round save becomes a RELIABLE `checkpoint()` into that
    * (cluster-visible, e.g. HDFS/S3) directory instead — the standard
    * iterative-graph discipline at scale (pair it with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so
    * superseded rounds' files are reclaimed). Unset → localCheckpoint. */
  def checkpoint(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        val want = new Path(dir)
        val qualified = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
        // setCheckpointDir makes a fresh subdirectory of `dir` each call:
        // point the context at the configured dir only when it changed
        if (!sc.getCheckpointDir.exists(d => new Path(d).getParent == qualified))
          sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }

  /** Each eager checkpoint PERSISTS its blocks for the life of the
    * session; without explicit cleanup every round pins another table in
    * the block manager (and its delayed GC-driven cleanup lands inside
    * whatever runs next). `save` returns the RDD ids a checkpoint
    * persisted (id-set diff; the operators are single-threaded) so the
    * caller can `drop` a round as soon as the next one is live. */
  final class State(sc: SparkContext) {
    private def persistedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def drop(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    def save(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = persistedIds
      try (checkpoint(df), persistedIds -- before)
      catch {
        // an eager checkpoint PERSISTS before its job runs — a failing
        // save can leave blocks behind with no caller to track them
        case e: Throwable => drop(persistedIds -- before); throw e
      }
    }
  }
}
