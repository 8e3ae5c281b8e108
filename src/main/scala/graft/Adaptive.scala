package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Operator-owned shuffle widths. The session's
  * `spark.sql.shuffle.partitions` is a cluster-scale constant, and
  * planning a near-empty shuffle at that width buys nothing but
  * per-task scheduling floors (measured: dedup queries at sf0.1 run
  * 400-700 near-empty tasks whose launch overhead dominates wall
  * time). An operator that knows its size — an optimizer estimate of
  * its input, or an exact key count — plans in a [[withWidth]] scope.
  * The width is capped at the session setting: at 100 TB the estimate
  * exceeds the cap and the session width wins, so a scope can only
  * remove waste, never cap a big job.
  *
  * A scope is a child session (`newSession()`) carrying the caller's
  * runtime settings plus the operator's width and AQE setting; the
  * caller's session is never written. Operators sharing a session
  * (concurrent search clients, export chunk threads) each see their
  * own width. Persisted data is shared (one `CacheManager`).
  */
object Adaptive {

  private val Width = "spark.sql.shuffle.partitions"

  /** The session an operator plans in; `scope(ds)` is `ds` planned in
    * it. A Dataset the body returns comes back bound to the caller's
    * session: what the body materialized (persist, checkpoint, local
    * rows) is reused as is, anything left lazy plans at the caller's
    * width.
    */
  final class Scope private[Adaptive] (val session: SparkSession) {
    def apply[T](ds: Dataset[T]): Dataset[T] = rebind(ds, session)
  }

  /** Run `body` at shuffle width min(session setting, `target`) (floor
    * 1). `aqeOff` turns AQE off in the scope: with the width already
    * right-sized there is nothing left for AQE to adapt, and its
    * per-exchange query-stage jobs dominate small-input operators.
    * When `target` does not narrow the session width (or the setting
    * is not a number, e.g. "auto") `body` runs on the caller's session
    * as is: no child session, AQE untouched.
    */
  def withWidth[T](spark: SparkSession, target: Long,
                   aqeOff: Boolean = false)(body: Scope => T): T =
    if (!spark.conf.get(Width).toLongOption.exists(target < _))
      body(new Scope(spark))
    else {
      val settings = spark.conf.getAll.filter { case (k, _) =>
        spark.conf.isModifiable(k) || !k.startsWith("spark.")
      } ++ Map(Width -> math.max(1L, target).toString) ++
        (if (aqeOff) Map("spark.sql.adaptive.enabled" -> "false") else Nil)
      body(new Scope(child(spark, settings))) match {
        case ds: Dataset[_] => rebind(ds, spark).asInstanceOf[T]
        case out => out
      }
    }

  /** Child sessions per caller, by their settings. A session's first
    * query builds its analyzer and optimizer (about 100 ms on 4 cores),
    * so scopes with equal settings share one child; it is never
    * written after it is made, so concurrent scopes may share it.
    * Bounded crudely, like the serve path's term cache.
    */
  private val children = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[Map[String, String], SparkSession]]()

  private def child(spark: SparkSession,
                    settings: Map[String, String]): SparkSession =
    children.synchronized {
      val mine = children.computeIfAbsent(spark,
        _ => scala.collection.mutable.Map.empty)
      if (mine.size >= 16 && !mine.contains(settings)) mine.clear()
      mine.getOrElseUpdate(settings, {
        val c = spark.newSession()
        settings.foreach { case (k, v) => c.conf.set(k, v) }
        c
      })
    }

  private def rebind[T](ds: Dataset[T], to: SparkSession): Dataset[T] =
    if (ds.sparkSession eq to) ds
    else new org.apache.spark.sql.classic.Dataset[T](
      to.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      ds.queryExecution.analyzed, ds.encoder)

  /** Shuffle-width estimate for a pipeline over `df`: one partition
    * per 2 MB of the optimizer's size estimate for the input, floored
    * at 4 (cheap parallelism insurance for compute-dense downstream
    * stages — pair generation does m² work on m rows). The estimate
    * errs large for derived columns, which only moves the width TOWARD
    * the session cap — safe in both directions.
    */
  def widthFor(df: DataFrame): Long = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (!bytes.isValidLong) Long.MaxValue
    else math.max(4L, bytes.toLong / (2L << 20) + 1L)
  }
}
