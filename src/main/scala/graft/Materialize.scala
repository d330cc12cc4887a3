package graft

import org.apache.spark.sql.Dataset

/** Shared-intermediate materialization: the one home for how a subtree
  * consumed by several legs is computed once. Catalyst cannot share
  * differently-filtered consumers, and concurrent broadcast builds race
  * over one lazy frame, so without this each leg re-runs the subtree.
  *
  * Both forms are a `localCheckpoint`: cheap, and it truncates the
  * lineage, so plan audits stay readable and iterative loops bound their
  * plan depth. Its blocks are unreplicated, which is safe on the
  * `local[N]` sessions every entry point builds ([[Harness.session]]).
  *
  * [[shared]] is lazy: it materializes at the first action, so
  * construction and explain-only plan audits stay free. [[now]] is eager,
  * for frames that feed jobs on concurrent threads (broadcast builds,
  * [[Parallel]] writes), where jobs racing over a lazy frame each
  * recompute it (the AnnFrames seal rationale, VERDICT r11 #2), and for
  * loop-carried frames.
  */
object Materialize {
  /** Lazily-materialized shared intermediate (one compute, N readers). */
  def shared[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(eager = false)

  /** Eagerly-materialized shared intermediate — for frames read by
    * concurrent jobs and for loop-carried frames (see scaladoc above).
    * Runs a job at construction time by design. */
  def now[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(eager = true)
}
