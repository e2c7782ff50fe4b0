package graft.store

import org.apache.spark.sql.functions._

/** Set-level validation oracle for [[EventStore.validate]]: the batch
  * is checked against the whole committed log with joins, a window
  * ranks intra-batch duplicate ids, and [[EventStore.replayStream]]
  * replays each stream inside ONE `flatMapGroups`. It uses no sketch
  * and no driver state of the store: the log and the registry come
  * through the public `allEvents` and `deciderRegistry`.
  */
object ValidationOracle {

  def validate(store: EventStore, batch: Seq[EventInput]): Seq[(EventInput, Long, String)] = {
    val spark = store.spark
    import spark.implicits._
    val events = store.allEvents
    // (1) FK gate (J8): the registry is dimension-sized, so the
    // composite-FK flag is stamped onto each row up front — the moral
    // equivalent of the broadcast semi-join.
    val registry = store.deciderRegistry.collect().map(r => (r.decider, r.event, r.event_version)).toSet
    val inputs = batch.zipWithIndex.map { case (e, i) =>
      (e, i.toLong, registry.contains((e.decider, e.event, e.event_version)))
    }.toDS().toDF("in", "input_idx", "registered")

    // (2) Committed-log lookups, pruned to the streams the batch touches.
    val touched = inputs.select($"in.decider".as("t_decider"),
      $"in.decider_id".as("t_decider_id")).distinct()
    val logSlice = events.toDF().join(broadcast(touched),
      $"decider" === $"t_decider" && $"decider_id" === $"t_decider_id", "left_semi")

    // Per-stream committed state: does the stream exist / is it final.
    val streamState = logSlice
      .groupBy($"decider", $"decider_id")
      .agg(max(when($"is_final", 1).otherwise(0)).as("finalized"),
           count(lit(1)).as("n_committed"))
      .select($"decider".as("s_decider"), $"decider_id".as("s_decider_id"),
              ($"finalized" === 1).as("finalized"), $"n_committed")

    // previous_id resolution against the committed stream (J7): the
    // claimed previous event must exist in the SAME (decider, decider_id).
    val prevResolved = inputs
      .join(logSlice.select($"event_id".as("p_event_id"),
              $"decider".as("p_decider"), $"decider_id".as("p_decider_id"),
              lit(true).as("prev_in_stream")),
        $"in.previous_id" === $"p_event_id" &&
          $"in.decider" === $"p_decider" && $"in.decider_id" === $"p_decider_id",
        "left")
      .select($"in", $"input_idx", $"registered",
              coalesce($"prev_in_stream", lit(false)).as("prev_in_stream"))

    // Global uniqueness vs the committed log (M9): event_id and
    // previous_id are unique across ALL streams.
    val committedIds = events.select($"event_id".as("c_event_id"), lit(true).as("dup_event_id"))
    val committedPrevs = events.filter($"previous_id".isNotNull)
      .select($"previous_id".as("c_prev_id"), lit(true).as("dup_prev_id"))
    val uniqChecked = prevResolved
      .join(committedIds, $"in.event_id" === $"c_event_id", "left")
      .join(committedPrevs, $"in.previous_id" === $"c_prev_id", "left")
      .select($"in", $"input_idx", $"registered", $"prev_in_stream",
              coalesce($"dup_event_id", lit(false)).as("dup_event_id"),
              coalesce($"dup_prev_id", lit(false)).as("dup_prev_id"))
      .join(streamState,
        $"in.decider" === $"s_decider" && $"in.decider_id" === $"s_decider_id", "left")
      .select($"in", $"input_idx", $"registered", $"prev_in_stream",
              $"dup_event_id", $"dup_prev_id",
              coalesce($"finalized", lit(false)).as("finalized"),
              coalesce($"n_committed", lit(0L)).as("n_committed"))

    // Intra-batch duplicate event_id across streams: only the FIRST
    // occurrence (input order) may survive; flag the rest.
    val wDupe = org.apache.spark.sql.expressions.Window
      .partitionBy($"in.event_id").orderBy($"input_idx")
    val flagged = uniqChecked.withColumn("eid_rank", row_number().over(wDupe))

    // (3) Sequential replay per stream: trigger-order checks with
    // intra-batch visibility, the store's own replay code.
    flagged.as[EventStore.Flagged]
      .groupByKey(f => (f.in.decider, f.in.decider_id))
      .flatMapGroups { (_: (String, String), rows: Iterator[EventStore.Flagged]) =>
        EventStore.replayStream(rows.toSeq).iterator
      }
      .collect().toSeq
  }
}
