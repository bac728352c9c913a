package graft

import org.apache.spark.sql.functions._

import graft.operators.TimeSeries
import graft.util.Sessions

/** Scale validation for the time-series operators at 10M events (100×
  * the driver's sf0.1 `events` table) with an adversarial hot key, plus
  * task-level straggler evidence ([[graft.util.TaskSkew]]).
  *
  * Corpus: sf0.1 events replicated `EVENTS_COPIES` (default 100) times
  * through the schema-adaptive [[Tables.events]] loader — event ids and
  * users shifted per copy so each copy is a disjoint population with
  * the real per-user time distribution — then 5% of all rows remapped
  * to ONE user id (the hot key). Session/window semantics are
  * inherently per-key, so a hot key concentrates that key's rows in
  * one task; this demo measures that concentration instead of
  * averaging it away:
  *
  *  1. **sessionStats** (gap 30 min): one shuffle on user_id, windows
  *     inside the sorted partition. The ~500k-row hot user lands in a
  *     single task — the measured max/median ratio IS the cost of
  *     honest session semantics on that distribution, and must stay
  *     under the 10× straggler bar because a 500k-row in-task sort is
  *     still seconds, not minutes.
  *  2. **joinAsOf**: every event enriched with the latest earlier
  *     state row of the same user (1 state row per user per copy) —
  *     |left|+|right| union through one window shuffle, no range join.
  *  3. **intervalJoin**: error events located inside their user's
  *     sessions via the 30-min binned equi-join — fan-out is
  *     duration/bin+1 per session, never a theta-join.
  *  4. **rollingStats**: trailing-10 moving average per user over the
  *     full 10M rows — one shuffle, linear in-partition frames.
  *
  * Run manually: `sbt "runMain graft.EventsScaleDemo"`. */
object EventsScaleDemo {
  def main(args: Array[String]): Unit = {
    val cpus = Sessions.envCpus
    val spark = Sessions.local(cpus)
    // the recorded numbers ran 2 shuffle partitions per core (64 on local[32])
    spark.conf.set("spark.sql.shuffle.partitions", 2L * cpus)
    val skew = new graft.util.TaskSkew().attach(spark)
    import graft.util.Timing.time

    val copies = sys.env.getOrElse("EVENTS_COPIES", "100").toInt
    val shift = 1000000000L
    val base = Tables.events(spark, "/root/testdata/sf0.1")
    val reps = spark.range(copies).select(col("id").as("copy"))
    val hotUser = -42L
    // 5% of rows → one user; the remap KEEPS each row's timestamp, so
    // the hot user's stream is 100 interleaved real time-lines — dense,
    // long sessions, the worst honest case for a per-key window
    val events = base.crossJoin(reps)
      .select(
        (col("event_id") + col("copy") * shift).as("event_id"),
        when(pmod(col("event_id") + col("copy"), lit(20)) === 0, lit(hotUser))
          .otherwise(col("user_id") + col("copy") * shift).as("user_id"),
        col("ts"), col("event_type"), col("value"))
      .repartition(64)
      .localCheckpoint(true)
    val n = events.count()
    val hotRows = events.filter(col("user_id") === hotUser).count()
    println(s"events=$n hotUserRows=$hotRows (${100.0 * hotRows / n}%)")

    // ---- 1. sessionStats over the hot distribution ---------------------
    skew.clear()
    val sessions = time(s"sessionStats ($n events, gap=30min)") {
      val s = TimeSeries.sessionStats(events, Seq("user_id"), "ts",
        gapSeconds = 1800, tieBreak = Seq(col("event_id")))
        .localCheckpoint(true)
      println(s"  sessions=${s.count()}")
      s
    }
    skew.report("sessionStats")
    val hotSessions = sessions.filter(col("user_id") === hotUser)
      .agg(count(lit(1)), max(col("n_events"))).head()
    println(s"  hot user: sessions=${hotSessions.getLong(0)} " +
      s"largest=${hotSessions.getLong(1)} events")

    // ---- 2. joinAsOf: enrich every event with the latest state ---------
    // state = each user's first event per copy-epoch, as a stand-in
    // profile row (1% of corpus size)
    val state = events.groupBy(col("user_id"))
      .agg(min(col("ts")).as("since"), count(lit(1)).as("n_total"))
    skew.clear()
    time(s"joinAsOf ($n events x ${copies}-epoch state)") {
      val enriched = TimeSeries.joinAsOf(
        events, state.withColumn("state_ts", col("since")),
        Seq("user_id"), "ts", "state_ts", Seq("n_total"),
        rightTieBreak = Seq("n_total"))
      println(s"  enriched=${enriched.filter(col("asof_n_total").isNotNull).count()}")
    }
    skew.report("joinAsOf")

    // ---- 3. intervalJoin: errors inside their user's sessions ----------
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("err_us"))
    skew.clear()
    time(s"intervalJoin (${errors.count()} errors x sessions, bin=30min)") {
      val located = TimeSeries.intervalJoin(errors, "err_us",
        sessions, "session_start_us", "session_end_us",
        keys = Seq("user_id"), binSeconds = 1800)
      println(s"  located=${located.count()}")
    }
    skew.report("intervalJoin")

    // ---- 4. rollingStats: trailing-10 moving average per user ----------
    skew.clear()
    time(s"rollingStats ($n events, nRows=10)") {
      val rolled = TimeSeries.rollingStats(events, Seq("user_id"),
        Seq(col("ts"), col("event_id")), "value", nRows = 10,
        sumType = "decimal(18,2)")
      // aggregate over the window outputs: a bare count() would let the
      // optimizer prune the Window node and time an empty shell
      val agg = rolled.agg(count(lit(1)), sum(col("moving_avg")),
        sum(col("cum_sum"))).head()
      println(s"  rows=${agg.getLong(0)} sumMovingAvg=${agg.getDouble(1)}")
    }
    skew.report("rollingStats")
    spark.stop()
  }
}
