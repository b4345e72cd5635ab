package graft.ops

import org.apache.spark.sql.DataFrame

/** Materialization strategy for multi-consumer subplans.
  *
  * Several operators pin an expensive subplan that feeds 2+ consumers
  * (the range-partitioned frame in [[Windows.surrogateKey]], the dedup
  * inverted indexes, the per-round connected-component labels). The
  * DEFAULT everywhere is [[Materialize.Local]] — an EAGER local
  * checkpoint (see [[Materialize.pin]] for why eager): blocks live on
  * executor local disks with NO lineage fallback. That is the fastest
  * option and correct on a healthy cluster, but one lost executor fails
  * the job, and for surrogateKey a recompute without the pin could
  * silently re-sample range boundaries and desync offsets.
  *
  * The executor-loss contract, explicitly:
  *  - [[Materialize.Local]]: executor loss => job failure (retry from the
  *    start). Right for local mode, short jobs, and clusters where a full
  *    retry is cheaper than durable writes.
  *  - [[Materialize.Reliable]]: checkpoint to the fault-tolerant store
  *    configured via `sparkContext.setCheckpointDir` — survives executor
  *    loss; the job continues from the checkpointed blocks. Right for
  *    long-running 100 TB jobs.
  *  - [[Materialize.Path]]: eager parquet materialization at an explicit
  *    path — durable, inspectable, resumable across driver restarts (the
  *    write-time-index pattern applied to intermediates).
  */
sealed trait Materialize {
  def apply(df: DataFrame): DataFrame = this match {
    case Materialize.Local    => Materialize.pin(df)
    case Materialize.Reliable => df.checkpoint(false)
    case Materialize.Path(dir) =>
      df.write.mode("overwrite").parquet(dir)
      df.sparkSession.read.parquet(dir)
  }
}

object Materialize {
  /** THE library-wide pin idiom: an EAGER local checkpoint. Every
    * multi-consumer pin in graft routes through here
    * (`df.transform(Materialize.pin)`), so the materialization policy is
    * set in exactly one place.
    *
    * EAGER, deliberately: a lazy `localCheckpoint(false)` defers
    * materialization to the first action, and that first materialization
    * can race a concurrent broadcast-exchange thread finalizing the SAME
    * checkpointed RDD — `RDD.markCheckpointed` vs
    * `RDDCheckpointData.checkpoint` lock in opposite orders (one from
    * the main action's doCheckpoint walk, one from the broadcast
    * subjob), a jstack-confirmed JVM deadlock observed once in ~12
    * rounds of full-suite runs. Eager materialization runs the
    * checkpoint job to completion on the defining thread BEFORE any
    * consumer can plan a broadcast over the frame, so the race window is
    * structurally gone: by the time two threads can touch the RDD, it is
    * already checkpointed and doCheckpoint is a no-op. The work is the
    * same job the first consumer would have triggered anyway; the only
    * cost is that the consumer re-reads the stored blocks instead of
    * fusing with the materializing pass.
    *
    * A pinned frame plans as a `LogicalRDD` leaf with unknown size
    * statistics, so it defeats dynamic partition pruning downstream.
    * The banded-index probe reads that leaf off its query frame and
    * prunes statically instead (`graft.llm.BandedIndex.probe`).
    */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** [[pin]] that also counts the pinned rows, through an `Observation`
    * on the pin's own job: no separate `count()` job. The returned
    * thunk waits for the observation, which the listener bus delivers
    * shortly after the pin returns, so read it where the count is
    * needed, not right after the pin.
    */
  def pinCounted(df: DataFrame): (DataFrame, () => Long) = {
    val rows = org.apache.spark.sql.Observation()
    val pinned = pin(df.observe(rows,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows")))
    (pinned, () => rows.get("rows").asInstanceOf[Long])
  }

  /** Eager local checkpoint ([[pin]]): executor blocks, no lineage
    * fallback.
    */
  case object Local extends Materialize

  /** Lazy reliable checkpoint (requires `setCheckpointDir`); survives
    * executor loss.
    */
  case object Reliable extends Materialize

  /** Eager parquet materialization at `dir`: durable and inspectable. */
  final case class Path(dir: String) extends Materialize
}
