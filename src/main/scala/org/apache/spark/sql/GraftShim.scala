package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-private bridge: `Dataset.ofRows` is `private[sql]`, and a
  * library injecting its own logical operators (graft.plans.AsOfJoin)
  * needs to wrap a constructed plan back into a DataFrame. Standard
  * extension-library technique (same approach as Delta et al.). */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s analyzed plan over session `s` (its conf, its views). */
  def rebind(s: SparkSession, df: DataFrame): DataFrame = ofRows(s, df.queryExecution.analyzed)

  /** A copy of `s` with its own conf, temp views and streaming queries. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** Run `body` with `settings` over a copy of `s`'s SQL conf, for THIS
    * thread only: Catalyst reads `SQLConf.get`, which prefers the
    * thread's existing conf to its session's, so what `body` plans sees
    * the overlay while the session conf, read by every other thread,
    * never changes. */
  def withConf[A](s: SparkSession, settings: (String, String)*)(body: => A): A = {
    val overlay = s.asInstanceOf[classic.SparkSession].sessionState.conf.clone()
    settings.foreach { case (k, v) => overlay.setConfString(k, v) }
    internal.SQLConf.withExistingConf(overlay)(body)
  }

  /** `df`, its own actions planned without AQE; see [[execution.NonAdaptive]]. */
  def nonAdaptive(df: DataFrame): DataFrame =
    execution.NonAdaptive(df.asInstanceOf[classic.Dataset[Row]])

  /** `df`'s rows on the driver, row-major in one array; every column
    * must be a non-null long. Planned without AQE, so the plan's
    * shuffles (a limit's single-partition gather) run as stages of one
    * job, not a job each (a broadcast in the plan still runs its own);
    * each partition ships one packed array. */
  def collectLongs(df: DataFrame): Array[Long] = {
    val width = df.schema.size
    execution.NonAdaptive(df.asInstanceOf[classic.Dataset[Row]]).queryExecution.toRdd
      .mapPartitions { rows =>
        val out = Array.newBuilder[Long]
        rows.foreach(r => (0 until width).foreach(i => out += r.getLong(i)))
        Iterator.single(out.result())
      }.collect().flatten
  }

  /** Builds every cached relation `plan` reads that is not built yet, so
    * its statistics count the cache's rows and bytes instead of
    * estimating them from the compressed files under it. A plan that
    * reads the cache builds it anyway; this only runs that build first. */
  def buildCaches(plan: LogicalPlan): Unit = plan.collectLeaves().foreach {
    case r: execution.columnar.InMemoryRelation if !r.cacheBuilder.isCachedColumnBuffersLoaded =>
      r.cacheBuilder.cachedColumnBuffers.count()
    case _ =>
  }

  /** The RDD behind a (local)checkpointed Dataset: its LogicalRDD leaf's. */
  def checkpointRdd(ds: Dataset[_]): Option[RDD[_]] =
    Some(ds.queryExecution.analyzed).collect { case lr: execution.LogicalRDD => lr.rdd }

  /** Release the storage blocks of a checkpoint's RDD. `localCheckpoint`
    * persists the physical plan's RDD and wraps it in a LogicalRDD —
    * there is no public API to unpersist it again, so long loops of
    * checkpoints or long sessions accumulate dead blocks until the block
    * manager thrashes. Safe ONLY once nothing live derives from the
    * checkpoint: a localCheckpoint has no lineage, so dropped blocks are
    * gone. Released through the context, not `RDD.unpersist`, which warns
    * on every call that a locally checkpointed RDD cannot be recomputed. */
  def unpersist(r: RDD[_]): Unit = r.sparkContext.unpersistRDD(r.id, blocking = false)

  /** Ids of the RDDs `df` reads: each LogicalRDD leaf's RDD (subqueries
    * included) and, below a leaf not checkpointed yet, its lineage down
    * to the checkpointed RDDs. */
  def rddsRead(df: DataFrame): Set[Int] = {
    val seen = scala.collection.mutable.Set[Int]()
    def walk(r: RDD[_]): Unit =
      if (seen.add(r.id) && !r.isCheckpointed) r.dependencies.foreach(d => walk(d.rdd))
    df.queryExecution.analyzed.collectWithSubqueries { case lr: execution.LogicalRDD => lr.rdd }
      .foreach(walk)
    seen.toSet
  }

  /** Rebuild a (local)checkpointed Dataset's LogicalRDD leaf WITHOUT its
    * origin constraints. A checkpoint that appears MULTIPLE times in one
    * consuming plan (e.g. an iteration level feeding both an output
    * union branch and the next iteration's join) gets deduplicated by
    * Catalyst via `newInstance`, which re-ids the leaf's output
    * attributes but leaves `originConstraints` referencing the ORIGINAL
    * ids — Union's constraint rewrite then dies with `key not found:
    * <attr>`. Origin constraints only feed optional filter inference, so
    * dropping them is always sound; origin stats are preserved (read
    * reflectively — they drive broadcast decisions, and losing them
    * would silently flip small frames to sort-merge joins). No-op for
    * non-checkpoint frames. */
  def dropOriginConstraints(ds: Dataset[_]): DataFrame = {
    val spark = ds.sparkSession.asInstanceOf[classic.SparkSession]
    ds.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        val stats =
          try {
            val f = classOf[execution.LogicalRDD].getDeclaredField("originStats")
            f.setAccessible(true)
            f.get(lr).asInstanceOf[Option[catalyst.plans.logical.Statistics]]
          } catch { case _: Throwable => None }
        ofRows(spark, execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(spark, stats, None))
      case _ => ds.toDF()
    }
  }

  /** Unload every loaded StateStoreProvider and stop the state-store
    * maintenance thread. A stopped streaming query does NOT release its
    * state: HDFSBackedStateStoreProvider keeps the latest state-map
    * versions of every partition in executor memory, and the shared
    * maintenance task keeps waking up to snapshot/clean providers whose
    * (temp) checkpoint dirs are already gone. Across a 12-query streaming
    * family that residue degrades every query that runs after it —
    * in-sequence measurements stop matching isolated ones (VERDICT r05
    * item 1). Calling this after each completed streaming run restores
    * the session to its pre-streaming state; the maintenance task
    * restarts lazily on the next StateStore.get, so later streaming
    * queries are unaffected. */
  def unloadStreamingState(): Unit =
    execution.streaming.state.StateStore.stop()

  /** Detach the streaming-query listener buses of the session the
    * finished query `q` was started from and of the clone it ran in from
    * the SparkContext's bus. A session's streaming query manager adds its
    * bus there for good, so each throwaway session would leave one behind
    * for the life of the context. Only for a throwaway starting session. */
  def detachStreamListeners(q: streaming.StreamingQuery): Unit = {
    val run = q.asInstanceOf[execution.streaming.runtime.StreamingQueryWrapper].streamingQuery
    val bus = classOf[classic.StreamingQueryManager].getDeclaredField("listenerBus")
    bus.setAccessible(true)
    Seq(run.sparkSession, run.sparkSessionForStream).foreach(s => s.sparkContext.listenerBus
      .removeListener(bus.get(s.streams).asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface]))
  }

  /** Loaded state-store provider count (bench diagnostic; -1 if the
    * private field moved — reflection only, nothing depends on it). */
  def loadedStateStores(): Int =
    try {
      val m = execution.streaming.state.StateStore.getClass
        .getDeclaredMethod("loadedProviders")
      m.setAccessible(true)
      m.invoke(execution.streaming.state.StateStore)
        .asInstanceOf[scala.collection.mutable.Map[_, _]].size
    } catch { case _: Throwable => -1 }
}

package execution {
  import org.apache.spark.sql.catalyst.encoders.RowEncoder
  import org.apache.spark.sql.catalyst.rules.Rule

  /** A Dataset over `ds`'s plan whose physical preparation is the rule
    * list of a session with AQE off (`ReuseExchangeAndSubquery`
    * included). Under AQE an action's plan is an `AdaptiveSparkPlanExec`
    * with unknown output partitioning; a checkpoint of this Dataset
    * keeps the concrete one (`hashpartitioning(id, n)`) in its
    * `LogicalRDD` leaf. The AQE decision reads the session conf, not the
    * thread's, so a conf overlay cannot make it. Frames derived from
    * this Dataset plan as usual. Here because `QueryExecution.preparations`
    * is `private[execution]`. */
  private[sql] object NonAdaptive {
    def apply(ds: classic.Dataset[Row]): classic.Dataset[Row] = {
      val spark = ds.sparkSession
      val qe = new QueryExecution(spark, ds.logicalPlan) {
        override def preparations: Seq[Rule[SparkPlan]] =
          QueryExecution.preparations(spark, None, subquery = false)
      }
      qe.assertAnalyzed()
      new classic.Dataset[Row](qe, () => RowEncoder.encoderFor(qe.analyzed.schema))
    }
  }
}
