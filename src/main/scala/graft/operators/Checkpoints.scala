package graft.operators

import org.apache.spark.sql.DataFrame

/** The checkpoint policy of the iterative operators — connected
  * components ([[DedupOps.connectedComponents]] and every dedup family
  * built on it), BPE training ([[BpeOps.train]]) and the k-means / PQ
  * fits ([[AnnOps.kmeans]], [[AnnOps.pqEncode]] and the IVF-PQ family).
  *
  * Why they materialize at all: each round of an iterate-to-fixpoint
  * loop reads the previous round's output. Caching would skip the
  * re-execution but keep the logical plan, which then doubles in depth
  * per round until plan-string generation alone exhausts the driver;
  * a checkpoint cuts the lineage, so round R plans over round R−1's
  * rows, never over rounds 1..R−1.
  *
  * Where the rows go is a deployment decision with ONE switch: the
  * application's checkpoint directory, set by Spark's own
  * `spark.checkpoint.dir` or at run time through the `SparkContext`'s
  * checkpoint-directory setter. Unset (local runs, tests, the bench)
  * every materialization is a `localCheckpoint`: fast, but its blocks live on executors, and since
  * the lineage behind them is cut, a lost executor cannot rebuild them.
  * Set (a long cluster job on HDFS or an object store) every
  * materialization is a reliable `checkpoint` into that directory, and
  * a lost executor's share is re-read from the files. Both paths give
  * the same rows (spec-asserted per operator family). This helper only
  * reads the directory; it never sets it. */
private[graft] object Checkpoints {
  def materialize(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)
}
