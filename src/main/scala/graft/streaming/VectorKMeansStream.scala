package graft.streaming

import graft.llm.VectorKMeans
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming K-Means step — the engine core's live twin: vectors
  * arriving on a stream accumulate into per-cell centroid state against
  * a FIXED epoch's centroids, and every trigger emits each touched
  * cell's running mean. This is the mini-batch K-Means deployment
  * shape: an epoch pins the centroids (the broadcast side-input, like
  * the reference's seed file), the stream folds arrivals into the
  * epoch's sufficient statistics, and the driver rolls the epoch by
  * collecting the K emitted rows and re-seeding — exactly the batch
  * loop's centroid handoff, at ingest latency.
  *
  * Exactness: the caller assigns cells with `VectorKMeans.cellOf`
  * (the SAME `NearestCentroid` argmin the batch step uses), state is
  * the [[VectorKMeans.GridScale]]-gridded integer sum vector + count —
  * `gridOf` per coordinate — and the emitted mean is the batch step's
  * exact division, so the final
  * trigger's rows equal `VectorKMeans.step`'s computed cells BITWISE
  * (spec-pinned; cells the stream never saw are the batch
  * keep-previous branch, the caller's epoch-roll concern).
  *
  * Scale: state is dim+1 longs per cell — K·(dim+1) total across the
  * cluster, sharded by cell. Sum bounds are the grid's documented
  * 2^63 headroom. */
object VectorKMeansStream {

  /** One arriving vector, already cell-assigned by the caller's
    * `VectorKMeans.cellOf` projection. */
  case class AssignedVec(cell: Int, vec: Seq[Double])

  /** Running per-cell sufficient statistics on the exact grid. */
  case class CellState(sums: Seq[Long], n: Long)

  /** The cell's centroid after this trigger, over everything streamed
    * so far this epoch. */
  case class CellCentroid(cell: Int, n_vecs: Long, centroid: Seq[Double])

  def stepUpdates(vecs: Dataset[AssignedVec], dim: Int): Dataset[CellCentroid] = {
    require(dim >= 1, s"need dim >= 1, got $dim")
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.groupByKey(_.cell)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (cell: Int, it: Iterator[AssignedVec], state: GroupState[CellState]) =>
          val sums = state.getOption.map(_.sums.toArray)
            .getOrElse(Array.fill(dim)(0L))
          var n = state.getOption.map(_.n).getOrElse(0L)
          it.foreach { a =>
            require(a.vec.length == dim,
              s"cell $cell: got a ${a.vec.length}-dim vector, expected $dim")
            var i = 0
            while (i < dim) { sums(i) += VectorKMeans.gridOf(a.vec(i)); i += 1 }
            n += 1
          }
          state.update(CellState(sums.toSeq, n))
          Iterator(CellCentroid(cell, n,
            sums.map(_.toDouble / (VectorKMeans.GridScale * n)).toSeq))
      }
  }
}
