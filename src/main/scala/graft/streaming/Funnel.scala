package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-funnel analysis over the behavioral event log: for each user,
  * the earliest time each funnel step was reached IN ORDER — step k's
  * timestamp is the minimum event time of its type at or after step k−1's
  * timestamp, so out-of-order events (a purchase before signup) never
  * advance the funnel. `stage` is the number of consecutive steps
  * completed.
  *
  * Each step is one filtered aggregation over the event table joined to
  * the (user-sized) accumulator — k steps cost k hash aggregations plus k
  * vertex-table-sized joins, the shape that holds at any event volume.
  * All timestamps are truncated epoch seconds (exact integers), so the
  * whole funnel replays bit-for-bit in the driver oracle.
  */
object Funnel {

  /** (user_id, stage, t_<step1>, …, t_<stepN>) over `events(user_id,
    * event_type, ts)`. Unreached steps are null.
    */
  def stages(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    val ev = events.select(col("user_id"), col("event_type"),
      col("ts").cast("timestamp").cast("long").as("t"))
    val users = ev.select(col("user_id")).distinct()
    var acc = users
    var prevCol: String = null
    steps.foreach { step =>
      val tc = s"t_$step"
      val m =
        if (prevCol == null)
          ev.filter(col("event_type") === step)
            .groupBy("user_id").agg(min(col("t")).as(tc))
        else
          ev.filter(col("event_type") === step)
            .join(acc.select(col("user_id"), col(prevCol)), "user_id")
            .filter(col(prevCol).isNotNull && col("t") >= col(prevCol))
            .groupBy("user_id").agg(min(col("t")).as(tc))
      acc = acc.join(m, Seq("user_id"), "left")
      prevCol = tc
    }
    // deepest reached step wins: forward fold leaves the last step as the
    // outermost WHEN (t_k non-null implies t_{k-1} non-null anyway)
    val stage = steps.zipWithIndex.foldLeft(lit(0L)) { case (els, (step, i)) =>
      when(col(s"t_$step").isNotNull, lit(i.toLong + 1)).otherwise(els)
    }
    acc.select((col("user_id") +: stage.as("stage") +:
      steps.map(s => col(s"t_$s"))): _*)
  }

  /** Per-transition funnel latency medians: for every consecutive step
    * pair, over the users who reached the later step, the DOUBLED
    * median of (t_next − t_prev) — med2 = lower-middle + upper-middle
    * of the sorted gaps, the exact-integer median trick (no float
    * percentile, no cross-engine interpolation convention). The number
    * an operator reads as "how long does the cart sit before
    * purchase"; at corpus scale swap the exact order statistic for
    * `approx_percentile` (documented trade, same column).
    *
    * Per-step windows partition by the step pair; the step table is
    * user-sized once, from the shared [[stages]] pass.
    *
    * @return (step "a->b", n_users, med2_gap_s)
    */
  def stepLatency(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.length >= 2, "need at least two funnel steps")
    val st = stages(events, steps)
    val gaps = steps.sliding(2).map { case Seq(a, b) =>
      st.filter(col(s"t_$b").isNotNull)
        .select(lit(s"$a->$b").as("step"), col("user_id"),
          (col(s"t_$b") - col(s"t_$a")).as("gap"))
    }.reduce(_.union(_))
    val w = Window.partitionBy("step")
      .orderBy(col("gap").asc, col("user_id").asc)
    gaps.withColumn("rn", row_number().over(w).cast("long"))
      .join(gaps.groupBy("step").agg(count(lit(1)).as("n_users")), "step")
      .withColumn("lo", expr("(n_users + 1) div 2"))
      .withColumn("hi", expr("(n_users + 2) div 2"))
      .groupBy(col("step"), col("n_users"))
      .agg(sum(when(col("rn") === col("lo") && col("lo") === col("hi"),
          col("gap") * 2L)
        .when(col("rn") === col("lo") || col("rn") === col("hi"),
          col("gap"))
        .otherwise(lit(0L))).cast("long").as("med2_gap_s"))
  }

  /** Global event-type transition matrix: for each user's event sequence
    * ordered by (ts, event_id) — the unique event id pins tie order, so
    * the count is deterministic — count every adjacent (from, to) pair.
    * The Markov-chain view of the behavior log. One user-partitioned
    * window (partition-local sort) + one hash aggregation over the
    * type-pair space.
    */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-user behavioral entropy rate — H(next type | current type) of
    * the user's OWN transition matrix, the predictability feature next
    * to [[botSignals]]: scripted clients replay near-deterministic loops
    * (H → 0 at high volume), organic users wander (H up to ln of the
    * type alphabet). Same integer-rounding contract as the corpus
    * entropy rate (`d_bigram_entropy`): each (a→b) cell contributes the
    * e6-rounded INTEGER n_ab·ln(n_a/n_ab), so the per-user sum is
    * order-free; one final divide by the user's transition count.
    *
    * Scale shape: per-user lead window + two hash aggs, everything
    * keyed by user — embarrassingly user-parallel.
    *
    * @return (user_id, n_transitions, h_e6)
    */
  def userEntropy(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tr = events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("nt", lead(col("event_type"), 1).over(w))
      .filter(col("nt").isNotNull)
      .groupBy(col("user_id"), col("event_type").as("a"), col("nt").as("b"))
      .agg(count(lit(1)).as("nab"))
    val na = tr.groupBy("user_id", "a").agg(sum(col("nab")).cast("long").as("na"))
    tr.join(na, Seq("user_id", "a"))
      .select(col("user_id"), col("nab"),
        round(col("nab") * log(col("na").cast("double") / col("nab"))
          * 1000000).cast("long").as("t"))
      .groupBy("user_id")
      .agg(sum(col("nab")).cast("long").as("n_transitions"),
        sum(col("t")).cast("long").as("st"))
      .select(col("user_id"), col("n_transitions"),
        round(col("st") / col("n_transitions")).cast("long").as("h_e6"))
  }

  /** Per-user consecutive event-type TRIGRAMS — the length-3 extension
    * of [[transitions]]: behavioral path mining one step deeper than the
    * Markov matrix (which 2-step contexts precede a purchase; which
    * error→retry→error loops dominate). Same deterministic (ts,
    * event_id) per-user total order; one user-partitioned window with
    * two leads + one hash agg, shuffle bounded by the distinct-trigram
    * count after map-side combine.
    *
    * @return (e1, e2, e3, n)
    */
  def trigrams(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("t2").as("e2"),
        col("t3").as("e3"))
      .agg(count(lit(1)).as("n"))
  }

  /** Hourly anomaly scores per event type: the z-score of each hour's
    * event count against that type's own hourly distribution. Both the
    * numerator and the variance argument are EXACT integers —
    * z = (n·H − S1) / √(S2·H − S1²) with H hours, S1 = Σn, S2 = Σn² —
    * so the one sqrt and one divide are the only floats (correctly
    * rounded IEEE ops, bit-identical across engines). Constant series
    * (zero variance) score 0. Two hash aggregations + one broadcast
    * join; the per-type stats table is tiny at any event volume.
    */
  def hourlyAnomaly(events: DataFrame): DataFrame = {
    // TZ-independent hour buckets (epoch − epoch % 3600, like retention's
    // week floor): date_trunc('hour') truncates in the session timezone,
    // which diverges from the naive-UTC oracle on non-whole-hour offsets
    // such as +05:30 (ADVICE r4)
    val epoch = col("ts").cast("timestamp").cast("long")
    val hourly = events.groupBy(
        (epoch - epoch % 3600).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("h"), sum(col("n")).cast("long").as("s1"),
        sum(col("n") * col("n")).cast("long").as("s2"))
    val varArg = col("s2") * col("h") - col("s1") * col("s1")
    hourly.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("hour_epoch"), col("n"),
        when(varArg === 0, lit(0L)).otherwise(
          round((col("n") * col("h") - col("s1")).cast("double") * 1000000
            / sqrt(varArg.cast("double"))).cast("long")).as("z_e6"))
  }

  /** One-row events-table DESCRIBE panel — the sanity scan an analyst
    * runs before any funnel/retention query: event/user/type counts, the
    * epoch span, events-per-user mean, and the heaviest single user's
    * event count (the first bot smell). Two hash aggregations (corpus
    * fold + per-user fold) joined as 1-row scalars; exact integers except
    * the one ×1e6-rounded mean. TZ-free: everything is epoch-second
    * integer arithmetic.
    */
  def eventsSummary(events: DataFrame): DataFrame = {
    val epoch = col("ts").cast("timestamp").cast("long")
    val tot = events.agg(count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("event_type")).as("n_types"),
      min(epoch).as("first_epoch"), max(epoch).as("last_epoch"))
    val perUser = events.groupBy("user_id").agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("max_user_events"))
    tot.crossJoin(perUser).select(col("n_events"), col("n_users"),
      col("n_types"), col("first_epoch"), col("last_epoch"),
      floor((col("last_epoch") - col("first_epoch")) / 86400)
        .cast("long").as("span_days"),
      round(col("n_events").cast("double") * 1000000 / col("n_users"))
        .cast("long").as("events_per_user_e6"),
      col("max_user_events"))
  }

  /** Pareto concentration panel: the top-decile users' share of all
    * events — the 80/20 skew scalar that prices every per-user shuffle
    * (a high share means user-keyed state is hot-key-bound and the
    * salting plans earn their keep). Users are ranked by
    * (count desc, user_id asc) through [[graft.measures.Measures
    * .rankByScore]]'s distributed sort-zipWithIndex — never a global
    * rank window; the decile cut is a broadcast 1-row scalar. Returns
    * (n_users, n_events, k_top, top_events, share_e6).
    */
  def paretoShare(events: DataFrame): DataFrame = {
    val cnt = events.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val ranked = graft.measures.Measures.rankByScore(
        cnt.select(col("user_id").cast("long").as("id"),
          col("c").cast("long").as("score")))
      .join(cnt.select(col("user_id").cast("long").as("id"), col("c")), "id")
    val tot = cnt.agg(count(lit(1)).as("n_users"),
      sum(col("c")).cast("long").as("n_events"))
    val top = ranked.crossJoin(tot)
      .filter(col("rnk") <= expr("(n_users + 9) div 10"))
      .agg(sum(col("c")).cast("long").as("top_events"))
    tot.crossJoin(top).select(col("n_users"), col("n_events"),
      expr("(n_users + 9) div 10").cast("long").as("k_top"),
      col("top_events"),
      round(col("top_events").cast("double") * 1000000 / col("n_events"))
        .cast("long").as("share_e6"))
  }

  /** One-row session panel over the batch gaps-and-islands sessions (the
    * ev_sessions rule: a gap > `gapSec` starts a new session): session
    * count, bounce count (single-event sessions), events per session, the
    * DOUBLED median session duration, and the max duration. The median
    * comes from the duration HISTOGRAM — cumulative counts over the
    * (bounded, ≤ observation-window-seconds distinct values) histogram
    * table, never a rank window over the corpus-sized session table (the
    * dist-hist precedent); med2 = value at ⌈n/2⌉ + value at ⌈(n+1)/2⌉ so
    * no float interpolation convention has to match cross-engine.
    * Returns (n_sessions, n_bounce, events_per_session_e6,
    * med2_duration_s, max_duration_s).
    */
  /** Shared gaps-and-islands session labeling (the ev_sessions rule): one
    * user-partitioned lag window marks the breaks, a running sum numbers
    * the sessions. Carries `event_type` for [[sessionTypePairs]].
    */
  private def withSessionIds(events: DataFrame, gapSec: Long): DataFrame = {
    val base = events.select(col("user_id"),
      col("ts").cast("timestamp").cast("long").as("t"), col("event_id"),
      col("event_type"))
    val wOrd = Window.partitionBy("user_id")
      .orderBy(col("t").asc, col("event_id").asc)
    base
      .withColumn("prev", lag(col("t"), 1).over(wOrd))
      .withColumn("brk", when(col("prev").isNull
        || col("t") - col("prev") > gapSec, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Event-type co-occurrence within sessions: for each canonical type
    * pair, in how many sessions do BOTH types fire? The basket-analysis
    * table behind "users who search also purchase" readouts, on the same
    * session rule as [[sessionStats]]. Per-session distinct types bound
    * the pairing at |types|² per session (the event-type vocabulary is
    * small and fixed), so the self-join is session-keyed and never
    * corpus-quadratic. Returns (type_a, type_b, n_sessions).
    */
  def sessionTypePairs(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val types = withSessionIds(events, gapSec)
      .select(col("user_id"), col("sid"), col("event_type")).distinct()
    types.select(col("user_id"), col("sid"), col("event_type").as("type_a"))
      .join(types.select(col("user_id"), col("sid"),
        col("event_type").as("type_b")), Seq("user_id", "sid"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_sessions"))
  }

  /** Conversion-windowed funnel: the [[stages]] fold with each step
    * additionally required to land within `windowSec` of the previous
    * step's time — the form every product funnel actually ships (a
    * purchase three months after the click is not attribution). Same
    * per-step join + min-aggregation chain; the window is one extra
    * predicate pushed into each step's earliest-qualifying-event filter,
    * so a user's step time is the first event satisfying BOTH order and
    * window (greedy-earliest semantics, matched by the oracle chain).
    * Aggregated to the per-stage user counts. Returns (stage, n_users)
    * with stage 0 = never entered.
    */
  def funnelWindowed(events: DataFrame, steps: Seq[String],
                     windowSec: Long): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    val ev = events.select(col("user_id"), col("event_type"),
      col("ts").cast("timestamp").cast("long").as("t"))
    val users = ev.select(col("user_id")).distinct()
    var acc = users
    var prevCol: String = null
    steps.foreach { step =>
      val tc = s"t_$step"
      val m =
        if (prevCol == null)
          ev.filter(col("event_type") === step)
            .groupBy("user_id").agg(min(col("t")).as(tc))
        else
          ev.filter(col("event_type") === step)
            .join(acc.select(col("user_id"), col(prevCol)), "user_id")
            .filter(col(prevCol).isNotNull && col("t") >= col(prevCol)
              && col("t") <= col(prevCol) + windowSec)
            .groupBy("user_id").agg(min(col("t")).as(tc))
      acc = acc.join(m, Seq("user_id"), "left")
      prevCol = tc
    }
    val stage = steps.zipWithIndex.foldLeft(lit(0L)) { case (els, (step, i)) =>
      when(col(s"t_$step").isNotNull, lit(i.toLong + 1)).otherwise(els)
    }
    acc.select(col("user_id"), stage.as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
  }

  /** Audience overlap between event types: for each canonical type pair,
    * the distinct-user intersection and its Jaccard against the two
    * audiences — the "do searchers also buy" panel. The pairing self-join
    * keys on USER (per-user fan-out ≤ |types|², a small fixed vocabulary),
    * audience sizes come from one type-keyed hash agg, so nothing is ever
    * user-quadratic. Returns (type_a, type_b, n_common, jaccard_e6).
    */
  def audienceOverlap(events: DataFrame): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("n_users"))
    ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("event_type").as("type_a"),
        col("n_users").as("na")), "type_a")
      .join(sizes.select(col("event_type").as("type_b"),
        col("n_users").as("nb")), "type_b")
      .select(col("type_a"), col("type_b"), col("n_common"),
        round(col("n_common").cast("double") * 1000000
          / (col("na") + col("nb") - col("n_common"))).cast("long")
          .as("jaccard_e6"))
  }

  /** Session-depth histogram: how many sessions contain exactly k events
    * — the engagement-depth distribution behind [[sessionStats]]' scalar
    * panel (a spike at k=1 is bounce traffic, a heavy tail is scraping).
    * One pass over the shared gaps-and-islands labeling + two hash aggs;
    * output is bounded by the deepest session. Returns (n_ev,
    * n_sessions).
    */
  def sessionDepthHist(events: DataFrame, gapSec: Long = 1800L): DataFrame =
    withSessionIds(events, gapSec)
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_ev"))
      .groupBy(col("n_ev")).agg(count(lit(1)).as("n_sessions"))

  /** Longest consecutive-day activity streak per user, histogrammed —
    * the habit-formation metric product teams optimize (a shrinking long-
    * streak tail is churn before churn shows). Same gaps-and-islands
    * shape as sessions, one level up: the distinct day-user table breaks
    * where the day gap exceeds 1, the per-user MAX streak feeds a
    * bounded histogram. Windows partition by user. Returns
    * (streak_days, n_users).
    */
  def streakHistogram(events: DataFrame): DataFrame = {
    val epoch = col("ts").cast("timestamp").cast("long")
    val du = events.select(col("user_id"),
      ((epoch - epoch % 86400) / 86400).cast("long").as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy(col("day").asc)
    val streaks = du
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("brk", when(col("prev").isNull
        || col("day") - col("prev") > 1, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id")).agg(max(col("len")).as("streak_days"))
    streaks.groupBy(col("streak_days"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Daily actives split new vs returning: per epoch day, how many of
    * the day's distinct users are on their FIRST-ever active day — the
    * growth-vs-retention decomposition of DAU (a flat DAU hiding shrinking
    * returners behind a new-user firehose is the classic growth trap).
    * TZ-free epoch-day floors; one distinct day-user table, a per-user
    * min fold, one day-keyed agg. Returns (day_epoch, n_new,
    * n_returning).
    */
  def newVsReturning(events: DataFrame): DataFrame = {
    val epoch = col("ts").cast("timestamp").cast("long")
    val du = events.select(col("user_id"),
      (epoch - epoch % 86400).as("day_epoch")).distinct()
    val first = du.groupBy("user_id").agg(min(col("day_epoch")).as("fd"))
    du.join(first, "user_id")
      .groupBy(col("day_epoch"))
      .agg(sum(when(col("day_epoch") === col("fd"), 1L).otherwise(0L))
          .cast("long").as("n_new"),
        sum(when(col("day_epoch") =!= col("fd"), 1L).otherwise(0L))
          .cast("long").as("n_returning"))
  }

  /** Second-order transition counts: (prev2, prev1) → next over each
    * user's time-ordered stream — the Markov-2 context table that prices
    * how much a sequence model gains over the first-order baseline
    * (compare its conditional entropy against `entropyRate`'s). Two lags
    * on the shared user-partitioned window, one hash agg bounded by
    * \|types\|³ cells. Returns (p2, p1, next_type, n).
    */
  def transitions2(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("t").asc, col("event_id").asc)
    events.select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("timestamp").cast("long").as("t"))
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .withColumn("p2", lag(col("event_type"), 2).over(w))
      .filter(col("p2").isNotNull)
      .groupBy(col("p2"), col("p1"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Behavioral twins: groups of users with IDENTICAL event-type
    * sequences (time-ordered), keyed by an md5 fingerprint — scripted
    * fleets replay the same schedule, so exact sequence collisions at
    * n ≥ 2 are the highest-precision bot-cluster signal there is (the
    * behavior-space sibling of `GraphOps.structuralTwins`). The sequence
    * is assembled per user with array_sort over (t, event_id, type)
    * structs, so the fingerprint is deterministic under any row order;
    * per-user state is that user's own history (the botSignals bound) —
    * cap or sample mega-users upstream. Returns
    * (sig, n_users, canonical_user) for groups of ≥ 2.
    */
  def behaviorTwins(events: DataFrame): DataFrame = {
    val sig = events.select(col("user_id"),
        struct(col("ts").cast("timestamp").cast("long").as("t"),
          col("event_id"), col("event_type")).as("e"))
      .groupBy("user_id").agg(array_sort(collect_list(col("e"))).as("seq"))
      .select(col("user_id"), md5(concat_ws("|",
        transform(col("seq"), e => e.getField("event_type")))).as("sig"))
    sig.groupBy("sig")
      .agg(count(lit(1)).as("n_users"),
        min(col("user_id")).cast("long").as("canonical_user"))
      .filter(col("n_users") >= 2)
  }

  /** First-session conversion: of the users who ever purchase, how many
    * did so in their FIRST session? The activation metric that separates
    * intent-driven arrivals (buy on visit one) from nurtured ones — it
    * decides where onboarding spend goes. One pass over the shared
    * [[withSessionIds]] labeling + two hash folds; session 1 is the
    * user's first by construction (the running break sum starts at 1).
    * Returns one row (n_users, n_buyers, n_first_session_buyers,
    * first_share_e6).
    */
  def firstSessionConversion(events: DataFrame, gapSec: Long = 1800L,
                             purchaseType: String = "purchase"): DataFrame = {
    val st = withSessionIds(events, gapSec)
    st.groupBy("user_id")
      .agg(max(when(col("event_type") === purchaseType, 1L).otherwise(0L))
          .as("any_p"),
        max(when(col("event_type") === purchaseType && col("sid") === 1, 1L)
          .otherwise(0L)).as("first_p"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("any_p")).cast("long").as("n_buyers"),
        sum(col("first_p")).cast("long").as("n_first_session_buyers"))
      .select(col("n_users"), col("n_buyers"),
        col("n_first_session_buyers"),
        when(col("n_buyers") === 0, lit(0L)).otherwise(
          round(col("n_first_session_buyers").cast("double") * 1000000
            / col("n_buyers")).cast("long")).as("first_share_e6"))
  }

  def sessionStats(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val sess = withSessionIds(events, gapSec)
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_ev"), min(col("t")).as("t0"),
        max(col("t")).as("t1"))
      .select(col("n_ev"), (col("t1") - col("t0")).as("dur"))
    val tot = sess.agg(count(lit(1)).as("n_sessions"),
      sum(col("n_ev")).cast("long").as("n_events"),
      sum(when(col("n_ev") === 1, 1L).otherwise(0L)).cast("long")
        .as("n_bounce"),
      max(col("dur")).cast("long").as("max_duration_s"))
    // duration histogram + cumulative counts (histogram-bounded window)
    val hist = sess.groupBy(col("dur")).agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(
      Window.orderBy(col("dur").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val med = cum.crossJoin(tot)
      .agg(min(when(col("cum") >= expr("(n_sessions + 1) div 2"),
          col("dur"))).as("med_lo"),
        min(when(col("cum") >= expr("(n_sessions + 2) div 2"),
          col("dur"))).as("med_hi"))
    tot.crossJoin(med).select(col("n_sessions"), col("n_bounce"),
      round(col("n_events").cast("double") * 1000000 / col("n_sessions"))
        .cast("long").as("events_per_session_e6"),
      (col("med_lo") + col("med_hi")).cast("long").as("med2_duration_s"),
      col("max_duration_s"))
  }

  /** Weekly cohort retention: cohort = a user's first active epoch week,
    * `week_offset` = weeks since the cohort week, `n_users` = distinct
    * users from that cohort active in that offset week — the classic
    * retention triangle. Two hash aggregations plus one user-keyed join;
    * weeks are exact integer floors of epoch seconds.
    */
  def retention(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"),
      floor(col("ts").cast("timestamp").cast("long") / 604800)
        .cast("long").as("week")).distinct()
    val cohort = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    ev.join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Per-user bot signals: inter-event gap statistics — the pre-training
    * filter behavioral corpora run before any modeling (scripted clients
    * fire at machine rate; humans don't sub-second-burst for hours).
    *
    *   min_gap_s   minimum gap between consecutive events (−1 if only one)
    *   n_burst     gaps ≤ 1 s
    *   rate_epm_e3 events per minute over the active span, +60 s smoothed
    *
    * Gaps come from one user-partitioned `lag` window ordered by
    * (epoch, event_id) — the deterministic tie-break — so nothing ever
    * concentrates beyond one user's history; epoch seconds are exact
    * integers and the rate is one double divide.
    */
  def botSignals(events: DataFrame): DataFrame = {
    val epoch = col("ts").cast("timestamp").cast("long")
    val ev = events.select(col("user_id"), col("event_id"), epoch.as("es"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("es").asc, col("event_id").asc)
    ev.withColumn("gap", col("es") - lag(col("es"), 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        (max(col("es")) - min(col("es"))).as("span_s"),
        coalesce(min(col("gap")), lit(-1L)).as("min_gap_s"),
        sum(when(col("gap") <= 1, 1L).otherwise(0L)).cast("long")
          .as("n_burst"))
      .withColumn("rate_epm_e3",
        round(col("n_events") * lit(60000.0) / (col("span_s") + 60))
          .cast("long"))
  }

  /** Daily/weekly active users and stickiness: DAU per epoch day, WAU =
    * distinct users active in the trailing 7 days, stickiness = DAU/WAU —
    * the engagement ratio product dashboards track. The rolling distinct
    * is computed WITHOUT a range join: each (user, day) row explodes to
    * its 7 covering window-days (a bounded 7× fan-out), then one distinct
    * + count per window-day — the shape that holds at any event volume,
    * unlike a day-range self-join whose skew is the hot day squared.
    * Days are TZ-free integer floors of epoch seconds.
    */
  def activeUsers(events: DataFrame): DataFrame = {
    val epoch = col("ts").cast("timestamp").cast("long")
    val ud = events.select(col("user_id"), epoch.as("es"))
      .select(col("user_id"), expr("es div 86400").as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .distinct()
      .groupBy(col("wday").as("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau") * lit(1000000.0) / col("wau")).cast("long")
          .as("stickiness_e6"))
  }

  /** Power-user concentration: the Gini coefficient of the per-user event
    * count distribution — the one-number skew summary a behavioral corpus
    * reports before per-user capping (G → 0 uniform, → 1 one user owns
    * the log).
    *
    * Uses the rank-weighted identity G = (2·Σᵢ i·xᵢ)/(n·T) − (n+1)/n with
    * ranks ascending by (count, user). The rank sum is NEVER computed via
    * a global per-user window: users are grouped by count value c (mc
    * users tied at c get the contiguous rank block [cum+1, cum+mc], whose
    * rank sum is c·(2·cum+mc+1)·mc/2 — always even, exact in int64), and
    * the only window runs over the DISTINCT count values — a table of
    * activity levels, thousands of rows when users are billions. Integer
    * envelope: needs 2·S and n·T < 2⁶³ — S ≤ n·T, so fine while
    * n_users·total_events < 4.6e18 (document-scale logs; beyond that,
    * lift to decimal).
    */
  def giniConcentration(events: DataFrame): DataFrame = {
    val perUser = events.groupBy("user_id").agg(count(lit(1)).as("c"))
    val byCount = perUser.groupBy("c").agg(count(lit(1)).as("mc"))
    val wc = Window.orderBy(col("c").asc)
    val blocks = byCount
      .withColumn("cum", coalesce(sum(col("mc")).over(
        wc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("c"), col("mc"),
        // (2·cum+mc+1)·mc is provably even — shiftright halves exactly
        (col("c") * shiftright(
          (lit(2L) * col("cum") + col("mc") + 1L) * col("mc"), 1))
          .as("rank_sum"))
    blocks.agg(
        sum(col("mc")).cast("long").as("n_users"),
        sum(col("c") * col("mc")).cast("long").as("total_events"),
        sum(col("rank_sum")).cast("long").as("s"))
      .select(col("n_users"), col("total_events"),
        round((lit(2.0) * col("s") - (col("n_users") + 1L)
            * col("total_events")) * 1000000.0
          / (col("n_users") * col("total_events"))).cast("long")
          .as("gini_e6"))
  }

  /** Per-user lifecycle classification relative to the log's last day:
    * `new` (first seen inside the trailing week), `churned` (not seen
    * for two full weeks), `retained` otherwise — the growth-accounting
    * table next to [[activeUsers]]. Days are TZ-free integer floors;
    * one distinct + one hash agg + a broadcast 1-row max.
    */
  def lifecycle(events: DataFrame): DataFrame = {
    val epoch = col("ts").cast("timestamp").cast("long")
    val ud = events.select(col("user_id"), epoch.as("es"))
      .select(col("user_id"), expr("es div 86400").as("day"))
      .distinct()
    val per = ud.groupBy("user_id")
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"),
        count(lit(1)).as("n_days"))
    per.crossJoin(ud.agg(max(col("day")).as("m")))
      .select(col("user_id"), col("first_day"), col("last_day"),
        col("n_days"),
        when(col("first_day") >= col("m") - 6, lit("new"))
          .when(col("last_day") < col("m") - 13, lit("churned"))
          .otherwise(lit("retained")).as("status"))
  }

  /** Steady-state event-type mix of the behavioral Markov chain: fixed
    * power-iteration steps of π' = πP over the [[transitions]] matrix,
    * with row probabilities and masses held as FLOOR-DIVIDED e9 integers
    * so every step replays exactly on any engine (the mass lost to
    * floors is ≤ |T|²·1e-9 per step — diagnostic noise). Types with no
    * outgoing transition hold their mass (self-loop), mirroring
    * PageRank's dangling treatment without a global refold. All tables
    * are event-TYPE-sized (the chain has a handful of states even when
    * the log has 10¹² events); the one big pass is the transitions
    * window itself. Int64 envelope: per-pair transition counts must stay
    * < 9.2e9 (n·1e9 in the row normalizer) — count in shards past that.
    */
  def markovStationary(events: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val tr = transitions(events)
    val tot = tr.groupBy("from_type").agg(sum(col("n")).as("tot"))
    val pmat = tr.join(tot, "from_type")
      .select(col("from_type").as("f"), col("to_type"),
        expr("(n * 1000000000) div tot").as("p_e9"))
    val types = events.select(col("event_type")).distinct()
    val k = types.count()
    require(k > 0, "empty event log")
    val emitting = tot.select(col("from_type").as("f2"))
    var pi = types.select(col("event_type").as("t"),
      lit(1000000000L / k).as("pi_e9"))
    for (_ <- 1 to iters) {
      val flow = pi.join(pmat, col("t") === col("f"))
        .select(col("to_type").as("t2"),
          expr("(pi_e9 * p_e9) div 1000000000").as("c"))
        .groupBy("t2").agg(sum(col("c")).as("fl"))
      val hold = pi.join(emitting, col("t") === col("f2"), "left_anti")
        .select(col("t").as("t3"), col("pi_e9").as("hd"))
      // pi is referenced twice per step (flow + hold): left lazy the
      // plan doubles per iteration — the Gauss-Seidel 2^n trap; the
      // state is event-TYPE-sized, so the eager cut is free
      pi = types.select(col("event_type").as("t"))
        .join(flow, col("t") === col("t2"), "left")
        .join(hold, col("t") === col("t3"), "left")
        .select(col("t"),
          (coalesce(col("fl"), lit(0L)) + coalesce(col("hd"), lit(0L)))
            .cast("long").as("pi_e9"))
        .transform(graft.engine.Materialize.eager(_).state)
    }
    pi.select(col("t").as("event_type"), col("pi_e9"))
  }

  /** Entropy rate of the global behavior Markov chain:
    *
    *   H = − Σ_i π_i Σ_j p_ij log2 p_ij   bits / event
    *
    * with π the [[markovStationary]] e9-integer iterate and p_ij the
    * exact transition fractions — the single-number answer to "how
    * predictable is traffic as a whole", the chain-level companion of
    * the per-user [[userEntropy]] feature (a fleet of scripted clients
    * drags H toward 0 even when each account stays under the per-user
    * radar). Every input to the log sum is an exact integer; the one
    * float reduction is over the type-pair table (alphabet², tiny), so
    * the e6 rounding absorbs summation-order noise.
    *
    * @return one row (h_e6) — entropy rate in micro-bits per step
    */
  def entropyRate(events: DataFrame, iters: Int = 3): DataFrame = {
    val pi = markovStationary(events, iters)
    val tr = transitions(events)
    val tot = tr.groupBy("from_type").agg(sum(col("n")).as("tot"))
    tr.join(tot, "from_type")
      .join(pi.select(col("event_type").as("from_type"), col("pi_e9")),
        Seq("from_type"))
      .select(((col("pi_e9").cast("double") / 1e9)
        * (col("n").cast("double") / col("tot"))
        * log2(col("tot").cast("double") / col("n"))).as("t"))
      .agg(round(sum(col("t")) * 1000000).cast("long").as("h_e6"))
  }

  /** Inter-event gap histogram: per-user consecutive gaps (the botSignals
    * lag window — user-partitioned, (epoch, event_id)-ordered) bucketed
    * into log2 bins, bucket = ⌊log2(gap_s + 1)⌋ computed exactly as
    * length(bin(gap+1)) − 1 on integers (the gamma-gap trick) — the
    * latency-scale activity profile (sub-second bursts in bucket 0,
    * daily returns around bucket 16). One window + one hash agg.
    */
  def gapHistogram(events: DataFrame): DataFrame = {
    val epoch = col("ts").cast("timestamp").cast("long")
    val ev = events.select(col("user_id"), col("event_id"), epoch.as("es"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("es").asc, col("event_id").asc)
    ev.withColumn("gap", col("es") - lag(col("es"), 1).over(w))
      .filter(col("gap").isNotNull)
      .select((length(bin(col("gap") + 1)) - 1).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_gaps"))
  }

  /** Per-event-type session entry/exit profile: sessionize by the
    * standard gap rule in the sessionization oracle's exact total order
    * (epoch seconds, then event_id), flag each session's first and last
    * event, and aggregate by type — which pages OPEN sessions and which
    * pages LOSE them, the landing/bounce table behind every funnel
    * review. Every window partitions by user (or user+session), so
    * per-task state is one user's history regardless of log volume;
    * shares are integer e6 floor divisions, replayable bit-for-bit.
    */
  def entryExit(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    val ev = events.select(col("user_id"), col("event_id"),
      col("event_type"), col("ts").cast("timestamp").cast("long").as("t"))
    val wo = Window.partitionBy("user_id")
      .orderBy(col("t").asc, col("event_id").asc)
    val sid = ev
      .withColumn("prev", lag(col("t"), 1).over(wo))
      .withColumn("brk",
        when(col("prev").isNull || col("t") - col("prev") > gapSec, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("brk"))
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val first = Window.partitionBy("user_id", "sid")
      .orderBy(col("t").asc, col("event_id").asc)
    val last = Window.partitionBy("user_id", "sid")
      .orderBy(col("t").desc, col("event_id").desc)
    sid
      .withColumn("rn", row_number().over(first))
      .withColumn("rx", row_number().over(last))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_entry"),
        sum(when(col("rx") === 1, 1L).otherwise(0L)).as("n_exit"))
      .select(col("event_type"), col("n_events"),
        col("n_entry").cast("long").as("n_entry"),
        col("n_exit").cast("long").as("n_exit"),
        expr("n_entry * 1000000 DIV n_events").as("entry_e6"),
        expr("n_exit * 1000000 DIV n_events").as("exit_e6"))
  }

  /** Per-user churn/RFM feature table — the standard recency, frequency,
    * tenure, and recent-share signals a churn model trains on, all
    * anchored to the DATASET's max timestamp (not wall clock, so the
    * feature table is replayable):
    *
    *   recency_s    = t_max − user's last event
    *   tenure_s     = user's last − first event
    *   active_days  = distinct UTC day buckets (epoch // 86400)
    *   n_recent     = events within `recentSec` of t_max
    *
    * All exact integer arithmetic on epoch seconds (the TZ-independent
    * retention/hourlyAnomaly convention — never date_trunc). Plan: one
    * broadcast 1-row scalar (t_max) + one user-keyed hash aggregation
    * with map-side combine; active_days is a count_distinct re-shuffle on
    * the same user key. Embarrassingly user-parallel at any scale.
    *
    * @return (user_id, n_events, active_days, tenure_s, recency_s,
    *         n_recent)
    */
  def churnFeatures(events: DataFrame, recentSec: Long = 172800L): DataFrame = {
    require(recentSec > 0)
    val ev = events.select(col("user_id"),
      col("ts").cast("timestamp").cast("long").as("t"))
    val tmax = ev.agg(max(col("t")).as("t_max"))
    ev.crossJoin(tmax)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(expr("t div 86400")).as("active_days"),
        (max(col("t")) - min(col("t"))).as("tenure_s"),
        (first(col("t_max")) - max(col("t"))).as("recency_s"),
        sum(when(col("t") >= col("t_max") - recentSec, 1L).otherwise(0L))
          .as("n_recent"))
      .select(col("user_id"), col("n_events"), col("active_days"),
        col("tenure_s"), col("recency_s"),
        col("n_recent").cast("long").as("n_recent"))
  }

  /** Watermark-lateness audit: per user, how out-of-order the event
    * stream arrives and how many events a streaming job with watermark
    * delay `watermarkSec` would drop. This is THE question to answer
    * before picking a withWatermark bound — too tight loses events, too
    * loose bloats state — and the answer has to come from a batch audit
    * of real arrival skew, exactly this scan.
    *
    * Arrival time is synthesized deterministically (event time + an
    * md5-uniform transport delay in [0, maxJitterSec)) so the audit
    * replays bit-for-bit; on a real log, substitute the ingestion
    * timestamp column. An event is LATE when the running max event time
    * among PRIOR ARRIVALS in its own user's stream exceeds its event
    * time by more than the watermark (per-user watermarks are the
    * conservative per-key view of Spark's global watermark: a key's
    * watermark is never ahead of the global one, so per-user lateness
    * lower-bounds drops).
    *
    * Plan: one scan + one user-partitioned window (running max over
    * arrival order) + one user hash agg — embarrassingly user-parallel;
    * no global ordering anywhere.
    *
    * @return (user_id, n_events, n_late, max_disorder_s)
    */
  def latenessAudit(events: DataFrame, watermarkSec: Long,
                    maxJitterSec: Long = 600L): DataFrame = {
    require(watermarkSec >= 0 && maxJitterSec >= 1)
    val ev = events.select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp").cast("long").as("t"))
      .withColumn("arrival", col("t")
        + graft.text.TextIndex.md5Uniform(col("event_id").cast("string"))
          % maxJitterSec)
    val w = Window.partitionBy("user_id")
      .orderBy(col("arrival").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("hwm", max(col("t")).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("hwm") - col("t") > watermarkSec, 1L).otherwise(0L))
          .cast("long").as("n_late"),
        greatest(coalesce(max(col("hwm") - col("t")), lit(0L)), lit(0L))
          .cast("long").as("max_disorder_s"))
  }

  /** One-sided CUSUM changepoint score over the daily event-count
    * series (Page 1954) — the standard drift detector for "did traffic
    * shift?" on an ingestion pipeline. The sequential recurrence
    *
    *   S_d = max(0, S_{d−1} + x_d − k),   k = the global daily mean
    *
    * has the closed prefix form S_d = P_d − min(0, min_{j≤d} P_j) with
    * P_d = Σ_{i≤d}(x_i − k) — two cumulative windows over the DAY table
    * (bounded: one row per day, never event-sized), so nothing is
    * sequential at execution time. Counts are ×1000 and k is the
    * millirate `(total·1000) div n_days`, keeping the whole series
    * exact-integer.
    *
    * @return (day_epoch, n_events, cusum_m) — cusum in event-millis
    */
  def cusumDaily(events: DataFrame): DataFrame = {
    val day = events
      .select((col("ts").cast("timestamp").cast("long") - (col("ts")
        .cast("timestamp").cast("long") % 86400L)).as("day_epoch"))
      .groupBy("day_epoch").agg(count(lit(1)).as("n_events"))
    val k = day.agg(expr("(sum(n_events) * 1000L) div count(*)").as("k"))
    val w = Window.orderBy(col("day_epoch").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    day.crossJoin(broadcast(k))
      .withColumn("p", sum(col("n_events") * 1000L - col("k")).over(w))
      .withColumn("minp", min(col("p")).over(w))
      .select(col("day_epoch"), col("n_events"),
        (col("p") - least(col("minp"), lit(0L))).cast("long").as("cusum_m"))
  }

  /** Per-event-type daily traffic trend: the OLS slope of daily counts
    * on the day index, reported as the EXACT integer numerator /
    * denominator pair
    *
    *   num = n·Σxy − Σx·Σy,   den = n·Σx² − (Σx)²
    *
    * (slope = num/den events per day — the division is the caller's,
    * because num's sign is data-dependent and cross-engine integer
    * division disagrees on negatives; the zipfSlope gates dodge that
    * only because their numerator has a provable sign). x is the day
    * number offset from the DATASET min day (a broadcast scalar), so
    * x ≤ the capture span in days and every sum sits far inside int64.
    * Plan: one day hash agg (bounded: one row per (type, day)) + one
    * per-type agg; days with zero events of a type contribute no row —
    * the trend is over observed days, the gap-robust convention.
    *
    * @return (event_type, n_days, sum_y, slope_num, slope_den)
    */
  def dailyTrend(events: DataFrame): DataFrame = {
    val day = events.select(col("event_type"),
        (col("ts").cast("timestamp").cast("long") % 86400L).as("r"),
        col("ts").cast("timestamp").cast("long").as("t"))
      .select(col("event_type"),
        expr("(t - r) div 86400").cast("long").as("day_num"))
      .groupBy("event_type", "day_num").agg(count(lit(1)).as("y"))
    val d0 = day.agg(min(col("day_num")).as("d0"))
    day.crossJoin(broadcast(d0))
      .select(col("event_type"), (col("day_num") - col("d0")).as("x"),
        col("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("y")).cast("long").as("sum_y"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("n_days"), col("sum_y"),
        (col("n_days") * col("sxy") - col("sx") * col("sum_y"))
          .cast("long").as("slope_num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx"))
          .cast("long").as("slope_den"))
  }
}
