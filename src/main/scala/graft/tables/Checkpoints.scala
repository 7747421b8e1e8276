package graft.tables

import org.apache.spark.sql.{DataFrame, Dataset}

/** Eager materialization with a choice of durability — the one pattern
  * behind every "compute once, release the inputs" lifecycle in this
  * library (Linker mention/link stages, EmbeddingCache, ConnectedComponents
  * rounds).
  *
  * `localCheckpoint(eager = true)` truncates lineage by caching the RDD in
  * the executors' block managers: correct and cheap in the single-JVM
  * sandbox, but on a real cluster an executor loss during a later stage
  * recomputes the WHOLE upstream pipeline (the lineage is gone, so Spark
  * can't replay just the lost partitions — the job fails back to the
  * stage's source). Passing `dir` switches to reliable `checkpoint()`:
  * partitions are written to fault-tolerant storage (HDFS/S3) and an
  * executor loss re-reads only the lost files.
  *
  * `setCheckpointDir` is SparkContext-GLOBAL, so the reliable mode saves
  * and restores the session's previous dir around the call. Caveat (Spark
  * has no unset API): when the session had NO previous dir, the dir passed
  * here necessarily remains installed afterwards — later unrelated
  * `.checkpoint()` calls in the same session would write into it. That is
  * harmless for correctness but surprising, so the helper logs a warning
  * in that case rather than claiming full isolation.
  */
object Checkpoints {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Run `body` with a materialize function bound to the chosen durability:
    * `localCheckpoint(eager)` when `dir` is None, reliable `checkpoint()`
    * inside a single save/set/restore of the global checkpoint dir when
    * Some — the one place the SparkContext-global state dance lives
    * (iterative callers materialize many frames per call; wrapping once
    * here instead of per-frame also keeps the no-previous-dir warning to
    * one line per job).
    */
  def withDir[A](spark: org.apache.spark.sql.SparkSession, dir: Option[String])
                (body: (DataFrame => DataFrame) => A): A = dir match {
    case None => body(df => df.localCheckpoint(eager = true))
    case Some(d) =>
      val sc = spark.sparkContext
      val prev = sc.getCheckpointDir
      if (prev.isEmpty)
        log.warn(s"session had no checkpoint dir; '$d' will remain the " +
          "session-global checkpoint dir after this call (Spark has no unset API)")
      sc.setCheckpointDir(d)
      try body(df => df.checkpoint(eager = true))
      finally prev.foreach(sc.setCheckpointDir)
  }

  def eager(df: DataFrame, dir: Option[String] = None): DataFrame =
    withDir(df.sparkSession, dir)(materialize => materialize(df))

  /** The frames one [[scoped]] call has persisted. */
  final class Cache private[Checkpoints] {
    private[Checkpoints] var held = List.empty[Dataset[_]]
    /** Persist `ds` until the enclosing scope exits. */
    def apply[T](ds: Dataset[T]): Dataset[T] = { held ::= ds.persist(); ds }
  }

  /** Run `body` with a `cache` function whose frames are all unpersisted
    * when `body` returns OR throws — a failed stage or guard in a
    * long-lived driver must not leave its cached frames behind. Frames are
    * registered only when `cache` is called, so a `lazy val` that is never
    * forced is never persisted (nor released).
    */
  def scoped[A](body: Cache => A): A = {
    val cache = new Cache
    try body(cache) finally cache.held.foreach(_.unpersist())
  }
}
