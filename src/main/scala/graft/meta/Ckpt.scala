package graft.meta

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import scala.jdk.CollectionConverters._

/** The repo's one checkpoint convention: every frame the engine
  * materializes goes through `.ckptLazy` or `.ckptEager` here, and no other
  * module calls `localCheckpoint` or `checkpoint` itself.
  *
  * WHAT it is for: a frame that feeds SEVERAL consumers (a count table read
  * by its own join-back, an iterative round's state, a shared census, an
  * input to several driver actions) is materialized ONCE and every later
  * consumer reads the stored blocks, where plain lineage would re-run the
  * whole upstream per consumer (guide §3.3: materialising an intermediate
  * truncates the plan). `ckptLazy` materializes on first use; `ckptEager`
  * runs a job now, for frames whose plan must be cut before the next one is
  * built (iterative folds) or that feed separate actions.
  *
  * FAULT POSTURE — one rule, taken from the deployment: when the session
  * has a RELIABLE checkpoint directory (`sparkContext.setCheckpointDir`),
  * every site writes a reliable `checkpoint()` there and its frame survives
  * executor loss, as durable as any shuffle output. Without one, every site
  * takes a LOCAL checkpoint: executor-resident blocks that are neither
  * replicated nor recomputable, so on a real cluster a lost executor fails
  * the job. In `local[n]` (the harness, and any single-JVM deployment)
  * executor loss is process death, so the local trade is free. Either way
  * the materialization severs lineage BY DESIGN, so filter and column
  * pushdown across it is cut. Production loads at scale should set a
  * checkpoint dir. The checkpointed frames are deliberately NARROW
  * (count/key tables, pruned corpus rows), so the reliable write is cheap
  * next to the recompute it avoids. A lazy reliable checkpoint computes its
  * frame once for the first consumer and once more to write the files.
  *
  * STORAGE RETENTION: a local checkpoint's executor blocks free with the
  * frame's lifetime (the ContextCleaner reclaims them once the RDD is
  * unreferenced). Reliable checkpoint files do NOT: they persist on disk
  * under `<checkpointDir>/<session-uuid>/rdd-<id>/` until something
  * reclaims them. Spark deletes them when the RDD is garbage-collected ONLY
  * if the session was built with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default false;
  * a SparkConf setting fixed at context start, not a runtime SQL conf). A
  * long-running session without that flag accumulates one `rdd-<id>`
  * subtree per materialized frame. So set the cleaner flag at session
  * build, or delete stale subtrees once the frames read from them are
  * dropped, or accept the accumulation knowingly: the durability is the
  * point, the disk it holds is the price.
  *
  * Why not `persist()`: the SQL cache is session-global and keyed by plan
  * equality, so a second identical call would read the FIRST call's cached
  * result, a cross-invocation memo the bench contract forbids; checkpoint
  * blocks belong to this call's RDD.
  *
  * PLAN-EVIDENCE CAPTURE: `.explain` on a checkpointed frame stops at the
  * `LogicalRDD` boundary, so the child's own plan (its scans, its
  * exchanges) vanishes from the dump. Inside [[capturing]] (ExplainPlan
  * uses it; the bench never does) each site records its child's
  * `QueryExecution` before materializing it, so a plan dump can append
  * every checkpointed child's plan and the evidence is complete from
  * `plans/` alone.
  */
object Ckpt {

  /** Non-null only inside [[capturing]]; null is the zero-overhead path. */
  private val capture = new AtomicReference[ConcurrentLinkedQueue[QueryExecution]](null)

  private def materialize(df: DataFrame, eager: Boolean): DataFrame = {
    val q = capture.get
    if (q != null) q.add(df.queryExecution)
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)
  }

  /** `df.ckptLazy` materializes on first use, `df.ckptEager` now. */
  implicit final class Syntax(private val df: DataFrame) extends AnyVal {
    def ckptLazy: DataFrame = materialize(df, eager = false)
    def ckptEager: DataFrame = materialize(df, eager = true)
  }

  /** Runs `body` with capture on and returns its result with the
    * `QueryExecution` of every frame checkpointed meanwhile, in
    * registration order. Capture is off again when this returns.
    */
  def capturing[A](body: => A): (A, Seq[QueryExecution]) = {
    val q = new ConcurrentLinkedQueue[QueryExecution]
    require(capture.compareAndSet(null, q), "Ckpt.capturing does not nest")
    try {
      val a = body
      (a, q.asScala.toList)
    } finally capture.set(null)
  }
}
