package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Lineage-truncation policy for operators that must materialize
  * intermediate state: iterative ops (PageRank, connected components)
  * whose plans grow per round, and the dedupe/similarity pipelines whose
  * shingle/vector tables feed multiple joins.
  *
  * `localCheckpoint` stores blocks on executors — cheap, but on a real
  * cluster an executor loss kills the lineage-truncated run mid-flight
  * (a re-run, never a wrong answer). With a checkpoint dir configured
  * the state goes through reliable `checkpoint()` to the fault-tolerant
  * checkpoint filesystem instead — the setting a 1000-executor run
  * should use; local test runs default to the executor-local path.
  *
  * The dir comes from the session conf `spark.graft.checkpointDir`, set
  * once at session setup; every graft op picks it up through
  * [[checkpointDir]]. `setCheckpointDir` is SparkContext-global, so
  * sessions sharing one context must share one dir.
  */
private[graft] object Iterative {

  /** Session conf key: when set, every graft materialization point uses
    * reliable checkpoints rooted at this (cluster-visible) path. */
  val CheckpointDirKey = "spark.graft.checkpointDir"

  /** The session's reliable-checkpoint dir; an empty value is unset. */
  def checkpointDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(CheckpointDirKey).filter(_.nonEmpty)

  // Plan-only mode: while set on the calling thread, materialize() is the
  // identity — no checkpoint job runs. Query builders are invoked
  // synchronously on the caller's thread, so the flag scopes exactly over
  // one builder call. Used by schema-discovery paths (QueryServer column
  // validation) that need the ANALYZED plan, never its data: an eager
  // checkpoint there would execute the heavy stage on an HTTP handler
  // thread, outside any cancellable job group (and the worker would then
  // redo the same work). Never set this around code that will EXECUTE the
  // returned frame — iterative ops rely on materialize for lineage
  // truncation and stable sampled partition boundaries.
  private val planOnlyFlag = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Run `f` with every graft materialization point downgraded to a
    * no-op on this thread (schema/plan inspection only). */
  def planOnly[A](f: => A): A = {
    val prev = planOnlyFlag.get
    planOnlyFlag.set(java.lang.Boolean.TRUE)
    try f finally planOnlyFlag.set(prev)
  }

  /** Materialize one DataFrame eagerly under the session-configured
    * policy: reliable `checkpoint()` with a [[checkpointDir]], else
    * `localCheckpoint()`. Either way the result is a flat-lineage leaf
    * with no CacheManager entry; its blocks go with the frame. */
  def materialize(df: DataFrame): DataFrame = checkpointed(df, None)

  /** Materialize with SERIALIZED block storage (memory-and-disk-ser) —
    * for edge-scale frames in iterative loops, where the default
    * deserialized localCheckpoint blocks (an object per row on top of
    * each UnsafeRow) crowd the unified memory region that the loop's own
    * aggregation needs. Measured on the 100× HyperBall build: E-row
    * edges+state as deserialized blocks OOM a 12 g heap
    * ([UNABLE_TO_ACQUIRE_MEMORY] mid-round under 32 tasks); serialized
    * blocks complete under the same roof. Reliable-checkpoint mode is
    * unchanged — it is already on-disk. */
  def materializeSer(df: DataFrame): DataFrame =
    checkpointed(df, Some(StorageLevel.MEMORY_AND_DISK_SER))

  private def checkpointed(df: DataFrame, local: Option[StorageLevel]): DataFrame =
    if (planOnlyFlag.get) df
    else checkpointDir(df.sparkSession) match {
      case Some(dir) =>
        df.sparkSession.sparkContext.setCheckpointDir(dir)
        df.checkpoint(true)
      case None => local.fold(df.localCheckpoint(true))(df.localCheckpoint(true, _))
    }

  /** Every 8th state generation goes through [[materialize]]; see [[Pins]]. */
  private val LineageCutEvery = 8

  /** The cached tables of one iterative-op call: its loop invariants and
    * its state generations. One `Pins` per call; the op ends with
    * [[release]], after it has materialized whatever it returns.
    *
    * Why persist, not checkpoint. `localCheckpoint`'s LogicalRDD drops
    * `outputPartitioning`, so a checkpointed state re-shuffles into every
    * join on its key. A persisted frame keeps its HashPartitioning
    * visible through InMemoryTableScan, so a join between an invariant
    * pinned on the key and a state generation derived from a
    * key-partitioned invariant adds no Exchange. Invariants need no
    * checkpoint anyway — their lineage is constant. The plan stays flat
    * too: a cached generation substitutes as an InMemoryRelation LEAF,
    * like a checkpoint scan. Measured at sf0.1, OpProfile warm min: g5
    * wall neutral within box noise (6.92 vs 6.68 s) with total shuffle
    * 90.6 → 75.6 MB, because the per-iteration O(V) rank exchange is gone
    * — kept for that cut, which is V·iters rows at 100 TB.
    *
    * Why a cut every 8th generation. persist() keeps the partitioning
    * but not lineage flatness: the analyzed plan, and every SQL-event
    * explain string, nests one level per generation, and a 60-iteration
    * chain OOM'd the test JVM building those strings. Every 8th
    * generation therefore goes through [[materialize]]: plan nesting
    * stays bounded at 8, and that one round's join pays the exchange, so
    * 7/8 of the per-round exchanges stay removed.
    *
    * The fault story is unchanged. A lost block under either form means
    * re-running the query: localCheckpoint cannot recompute at all, and
    * superseded cached generations are released. With
    * `spark.graft.checkpointDir` set (a real cluster) every generation
    * goes through reliable `checkpoint()` — re-exchanging V rows per
    * round is the price of surviving executor loss there.
    *
    * A measured rejection, for the record: disabling AQE for the loop
    * body made g5 slower (7.5 vs 6.8 s warm, g12 4.7 vs 4.3 s); the
    * coalescing of the loop's small exchanges saves more than its
    * per-stage re-planning costs at this scale. */
  final class Pins(spark: SparkSession) {
    private val reliable = checkpointDir(spark).isDefined
    private val nParts = spark.sessionState.conf.numShufflePartitions
    private val invariants = mutable.Buffer.empty[DataFrame]
    private var generations = List.empty[DataFrame] // newest first, at most 2
    private var gen = 0

    /** Persist and count a loop-invariant table once, repartitioned on
      * `key` first when one is given. A frame that already carries the
      * loop's join-key partitioning passes no key, so no Exchange is
      * added on top. The partition count is pinned explicitly because an
      * AQE-coalesced width would never match the loop's exchanges. */
    def invariant(df: DataFrame, key: Option[String] = None): DataFrame = {
      val p = key.fold(df)(k => df.repartition(nParts, col(k))).persist()
      invariants += p
      p.count()
      p
    }

    /** Pin one state generation (see the class doc for the policy).
      * The generation before the previous one is released first, so at
      * most two are resident and the caller may still read the previous
      * one after pinning the next. */
    def state(df: DataFrame): DataFrame = {
      generations.drop(1).foreach(_.unpersist(false))
      gen += 1
      val p =
        if (reliable || gen % LineageCutEvery == 0) materialize(df)
        else { val q = df.persist(); q.count(); q }
      generations = p :: generations.take(1)
      p
    }

    /** Release one invariant early, once nothing downstream reads it. */
    def release(df: DataFrame): Unit = {
      invariants -= df
      df.unpersist(false)
    }

    /** Release every pinned generation and invariant. Unpersisting a
      * checkpointed generation is a CacheManager no-op. */
    def release(): Unit = {
      (generations ++ invariants).foreach(_.unpersist(false))
      generations = Nil
      invariants.clear()
    }
  }
}
