package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one driver for the node-sized fixpoint loops (connected
  * components, k-core peeling). A caller supplies only its algorithm —
  * a seed frame, one step, a convergence rule — and the driver owns the
  * loop contract:
  *
  *  - '''Scope.''' Rounds run at the narrow loop width, with adaptive
  *    execution off or left on per loop; both confs are restored on
  *    success and on throw (see [[scope]]).
  *  - '''Checkpoints and the probe.''' Every step output is a lazy
  *    `localCheckpoint(false)`. A round chains `stepsPerRound` steps and
  *    materializes all of them with exactly ONE raw-RDD job over its
  *    last frame, which returns the frame's row count and the exact Σ
  *    of one long column ([[Probe]]). A full SQL action per round would
  *    cost ~4-6x the raw job in driver machinery (fresh QueryExecution
  *    + stage scheduling + listener events — measured 0.15 vs 0.024 s
  *    per action).
  *  - '''Release.''' After each probe every superseded frame (the
  *    previous round's result and this round's intermediate steps) is
  *    unpersisted through its `LogicalRDD` leaf — the checkpoint RDD
  *    itself. `df.rdd.unpersist` would only unpersist a fresh
  *    conversion RDD (at the price of one SQL execution) and leave the
  *    checkpoint blocks pinned. If the loop throws, every frame it
  *    holds is released.
  *  - '''Guard.''' A loop that has not converged after `maxRounds`
  *    rounds throws an IllegalStateException naming the loop and its
  *    cap, rather than returning a silently unfinished result.
  *
  * Only the final frame stays materialized; it is returned to the
  * caller, whose downstream plans run under the session's normal confs.
  * Checkpoints are local (executor block storage); a cluster deployment
  * points `sparkContext.setCheckpointDir` at reliable storage and uses
  * `checkpoint()` — same shape. */
private[graft] object Fixpoint {

  private[graft] val LoopPartitionsConf = "spark.graft.loop.partitions"

  /** The loop width as an Int — for loops that CO-PARTITION their
    * static sides (edge and adjacency tables) by the loop key up front
    * so the per-round joins reuse the partitioning instead of
    * broadcasting or reshuffling (kcore's relaxations measured 3.1 →
    * 2.4 s warm at sf0.1 from this alone). */
  def width(s: SparkSession): Int =
    s.conf.getOption(LoopPartitionsConf).getOrElse("8").toInt

  /** Execution scope of the rounds: the shuffle width narrowed to
    * [[width]] and, unless `adaptive`, AQE off.
    *
    * Why (optimization guide §1.2/§2.4 — measure, then remove
    * machinery): a round moves node-sized frames (labels, degrees,
    * frontiers — tens of KB at gate scale) through 2-4 exchanges.
    * AQE's value — runtime re-sizing and skew-splitting of BIG
    * shuffles — cannot apply at that grain, but it bills a scheduling
    * barrier + a separate job per materialized query stage, every
    * round. The narrow width (8 partitions) cut per-stage
    * task-scheduling overhead 4× vs a 32-wide session on node-sized
    * stages; `spark.graft.loop.partitions` lets a cluster deployment
    * size it to its frontier volume.
    *
    * `adaptive` is measured per loop, not assumed: the connected
    * components label rounds win with AQE off (2-4 tiny exchanges per
    * round, nothing for AQE to re-optimize; q61 1.58→1.32 s, q57
    * 2.05→1.80 s medians), while kcore's 3-relaxation chains LOSE with
    * it off (4.17→4.65 s — AQE's partition coalescing collapses the
    * 8-partition frontier shuffles to single tasks, which beats the
    * saved stage-job barriers there), so kcore keeps AQE on.
    *
    * Plans built inside the scope keep their narrow shape when
    * materialized inside it. E-sized work (edge and adjacency builds,
    * the seed) stays OUTSIDE — full width and AQE are right there. */
  def scope[T](s: SparkSession, adaptive: Boolean)(body: => T): T = {
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    val savedAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.shuffle.partitions", width(s).toString)
      if (!adaptive) s.conf.set("spark.sql.adaptive.enabled", "false")
      body
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
      s.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }

  /** What one probe job reads off a frame: its row count and the
    * arbitrary-precision Σ of one long column (a 2^63-range id column
    * summed over a large graph overflows a long). */
  final case class Probe(rows: Long, sum: java.math.BigInteger)

  /** A materialized checkpoint and the probe that materialized it. */
  final case class Frame(df: DataFrame, probe: Probe)

  /** One fixpoint loop.
    *
    * @param name          names the loop in the guard's exception
    * @param sumCol        the long column every probe sums
    * @param maxRounds     the round cap
    * @param adaptive      leave AQE on inside the rounds (see [[scope]])
    * @param stepsPerRound steps chained into each round's one probe
    *   job — amortizes the fixed per-job machinery across steps for a
    *   loop whose no-op step is harmless (k-core) */
  final case class Loop(
      name: String,
      sumCol: String,
      maxRounds: Int,
      adaptive: Boolean,
      stepsPerRound: Int = 1) {

    /** Lazily checkpoint the seed and materialize it with one probe, at
      * the caller's confs. The probe also gives the caller the seed's
      * row count and Σ, so a loop needs no other action on its seed. */
    def seed(df: DataFrame): Frame = {
      val ck = df.localCheckpoint(false)
      Frame(ck, probe(ck))
    }

    /** Run rounds from `seed` until `converged(previous, current)` holds
      * and return the final frame. `step` builds one step's plan on the
      * previous step's checkpoint. */
    def run(seed: Frame)(step: DataFrame => DataFrame)(
        converged: (Probe, Probe) => Boolean): DataFrame = {
      // every checkpoint the loop holds and has not released yet
      val held = ArrayBuffer(seed.df)
      try scope(seed.df.sparkSession, adaptive) {
        var prev = seed.probe
        var done = false
        var round = 0
        while (!done && round < maxRounds) {
          var df = held.last
          for (_ <- 1 to stepsPerRound) {
            df = step(df).localCheckpoint(false)
            held += df
          }
          val cur = probe(df)
          held.init.foreach(release)
          held.clear()
          held += df
          done = converged(prev, cur)
          prev = cur
          round += 1
        }
        if (!done) throw new IllegalStateException(
          s"$name did not converge in $maxRounds rounds")
        held.last
      } catch {
        case t: Throwable => held.foreach(release); throw t
      }
    }

    private def probe(df: DataFrame): Probe = {
      val ord = df.schema.fieldIndex(sumCol)
      val (rows, sum) = df.queryExecution.toRdd.mapPartitions { it =>
        var n = 0L
        var acc = java.math.BigInteger.ZERO
        while (it.hasNext) {
          n += 1
          acc = acc.add(java.math.BigInteger.valueOf(it.next().getLong(ord)))
        }
        Iterator.single((n, acc))
      }.fold((0L, java.math.BigInteger.ZERO)) {
        case ((na, sa), (nb, sb)) => (na + nb, sa.add(sb))
      }
      Probe(rows, sum)
    }
  }

  /** Unpersist the checkpoint blocks behind `df`. A checkpointed plan's
    * only leaf is the materialized RDD. */
  private def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => scala.util.Try(lr.rdd.unpersist(blocking = false)): Unit
      case _ => ()
    }
}
