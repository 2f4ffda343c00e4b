package graft.operators

/** What one MV refresh did, returned by [[Materialize.refresh]] (either
  * MV kind) and [[MaterializeJoin.expireBefore]].
  *
  * @param marks the high-water marks the state covers: `Seq(v)` for a
  *   single-table MV, `factV +: sideVs` for a join MV
  * @param rebuildRan a FULL REBUILD ran (history discarded past a fold
  *   mark, TTL/tz change, dim-churn opt-in) instead of a fold
  * @param recomputeRan the extremum gate let some group in; `false`
  *   means the written plan had NO base-history access at all
  * @param affectedGroups how many groups the gate let in
  * @param bucketsTouched `__b=` partitions the fold read and rewrote
  *   (-1 = single-dir state, or no fold), of `bucketsTotal`
  * @param recomputePushdown join MVs: tables whose recompute reads
  *   carried a below-join affected-group IN-filter (empty when the gate
  *   did not fire, >1024 groups disabled the pushdown, or the soundness
  *   rule in [[MaterializeJoin]]'s recomputeJoined held it back) */
final case class RefreshReport(
    marks: Seq[Long],
    rebuildRan: Boolean = false,
    recomputeRan: Boolean = false,
    affectedGroups: Long = 0L,
    bucketsTouched: Int = -1,
    bucketsTotal: Int = -1,
    recomputePushdown: Seq[String] = Nil)
