package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables.events
import graft.operators.WindowAssign

/** Minibatch emitter strategies in their batch-expressible forms: count,
  * fixed-time, relaxed-time and sorted windows, buffer reads, retention.
  */
object EmitterQueries {

  val specs: Seq[QuerySpec] = Seq(

    // A6 CountWindow — ORACLE SHAPE: total arrival order forces a global
    // single-partition sort. The front doors at scale are
    // count_window_per_key (sort shards by key) and the streaming
    // CountWindow (EmitterBuilder.size — per-stream state, never sorts
    // globally); this query exists to oracle-check their semantics.
    QuerySpec("count_window_agg", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("value"))
      WindowAssign.countWindow(ev, 100, Seq(col("event_id")))
        .groupBy(col("window_id"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"),
          round(avg(col("value")), 4).as("avg_value"),
          min(col("event_id")).as("first_id"),
          max(col("event_id")).as("last_id"))
        .orderBy(col("window_id"))
    },
      note = Some(
        "ORACLE SHAPE: total arrival order = single-partition global sort. " +
          "Scale paths: count_window_per_key (WindowAssign.countWindowPerKey, sort shards by key) " +
          "or the streaming CountWindow (EmitterBuilder.size — per-stream state, no global sort)."),
      oracle = Some(
        """SELECT window_id,
          |       count(*) AS n_events,
          |       round(sum(value), 2) AS sum_value,
          |       round(avg(value), 4) AS avg_value,
          |       min(event_id) AS first_id,
          |       max(event_id) AS last_id
          |FROM (SELECT event_id, value,
          |             (row_number() OVER (ORDER BY event_id) - 1) // 100 AS window_id
          |      FROM events)
          |GROUP BY window_id
          |ORDER BY window_id""".stripMargin)),

    // A6 CountWindow, per-key variant (scales: sort shards by user).
    QuerySpec("count_window_per_key", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      WindowAssign.countWindowPerKey(ev, 10, col("user_id"), Seq(col("event_id")))
        .groupBy(col("user_id"), col("window_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("user_id"), col("window_id"))
    },
      oracle = Some(
        """SELECT user_id, window_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
          |FROM (SELECT user_id, value,
          |             (row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1) // 10 AS window_id
          |      FROM events)
          |GROUP BY user_id, window_id
          |ORDER BY user_id, window_id""".stripMargin)),

    // A7 FixedTimeWindow: aligned 1h tumbling windows (epoch-seconds grid).
    QuerySpec("fixed_time_window", (s, dir) => {
      events(s, dir)
        .withColumn("window_start_s", floor(unix_timestamp(col("ts")) / 3600) * 3600)
        .groupBy(col("window_start_s"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"),
          round(avg(col("value")), 4).as("avg_value"))
        .orderBy(col("window_start_s"))
    },
      oracle = Some(
        """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_start_s,
          |       count(*) AS n_events,
          |       round(sum(value), 2) AS sum_value,
          |       round(avg(value), 4) AS avg_value
          |FROM events
          |GROUP BY window_start_s
          |ORDER BY window_start_s""".stripMargin)),

    // A7 with emit_empty=True: 300s grid spine keeps empty windows.
    QuerySpec("fixed_time_window_spine", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("window_start_s", floor(unix_timestamp(col("ts")) / 300) * 300)
      val agg = ev.groupBy(col("window_start_s"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      val spine = ev
        .agg(min(col("window_start_s")).as("lo"), max(col("window_start_s")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), lit(300L))).as("window_start_s"))
      spine.join(agg, Seq("window_start_s"), "left")
        .select(
          col("window_start_s"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          coalesce(col("sv"), lit(0.0)).as("sum_value"))
        .orderBy(col("window_start_s"))
    },
      oracle = Some(
        """WITH ev AS (SELECT (epoch_ns(ts) // 300000000000) * 300 AS ws, value FROM events),
          |     bounds AS (SELECT min(ws) AS lo, max(ws) AS hi FROM ev),
          |     spine AS (SELECT unnest(generate_series(lo, hi, 300)) AS window_start_s FROM bounds),
          |     agg AS (SELECT ws, count(*) AS n, round(sum(value), 2) AS sv FROM ev GROUP BY ws)
          |SELECT s.window_start_s,
          |       coalesce(a.n, 0) AS n_events,
          |       coalesce(a.sv, 0.0) AS sum_value
          |FROM spine s LEFT JOIN agg a ON s.window_start_s = a.ws
          |ORDER BY s.window_start_s""".stripMargin)),

    // A8 RelaxedTimeWindow batch form: everything at or before the cutoff.
    QuerySpec("relaxed_time_window", (s, dir) => {
      WindowAssign.relaxedWindow(events(s, dir), col("ts"),
          lit("2024-01-15 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
      oracle = Some(
        """SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
          |FROM events
          |WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)),

    // A9 custom emitter (README SortedWindow): evens, sorted, batches of 50.
    // ORACLE SHAPE: the example's total sort order forces a global sort,
    // like count_window_agg; a scale deployment keys the sort.
    QuerySpec("sorted_window", (s, dir) => {
      WindowAssign.sortedWindow(
          events(s, dir).select(col("event_id"), col("value")),
          col("event_id"), col("value"), 50)
        .groupBy(col("window_id"))
        .agg(
          count(lit(1)).as("n_events"),
          round(min(col("value")), 2).as("min_value"),
          round(max(col("value")), 2).as("max_value"))
        .orderBy(col("window_id"))
    },
      note = Some(
        "ORACLE SHAPE: the README example's total sort order = single-partition global sort. " +
          "Scale deployments key the sort (Window.partitionBy)."),
      oracle = Some(
        """SELECT window_id, count(*) AS n_events,
          |       round(min(value), 2) AS min_value,
          |       round(max(value), 2) AS max_value
          |FROM (SELECT value,
          |             (row_number() OVER (ORDER BY value, event_id) - 1) // 50 AS window_id
          |      FROM events WHERE event_id % 2 = 0)
          |GROUP BY window_id
          |ORDER BY window_id""".stripMargin)),

    // A18 buffer accessor: filtered projected read (predicate pushdown).
    QuerySpec("stream_buffer_filter", (s, dir) => {
      events(s, dir)
        .filter(col("event_type") === "error" && col("value") > 150)
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    },
      oracle = Some(
        """SELECT event_id, user_id, value
          |FROM events
          |WHERE event_type = 'error' AND value > 150
          |ORDER BY event_id""".stripMargin)),

    // A17 retention (max_age): rows younger than max(ts) - 7 days.
    QuerySpec("retention_cutoff", (s, dir) => {
      val ev = events(s, dir).withColumn("ts_s", unix_timestamp(col("ts")))
      val cutoff = ev.agg((max(col("ts_s")) - lit(7L * 86400)).as("cutoff_s"))
      ev.crossJoin(broadcast(cutoff))
        .filter(col("ts_s") > col("cutoff_s"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_id"))
        .orderBy(col("event_type"))
    },
      oracle = Some(
        """SELECT event_type, count(*) AS n_events, min(event_id) AS first_id
          |FROM events
          |WHERE epoch_ns(ts) // 1000000000 >
          |      (SELECT max(epoch_ns(ts) // 1000000000) - 7*86400 FROM events)
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin))
  )
}
