package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Driver-local kernels for the BATCH event-analytics transforms — the
 * small-input path of the hybrid executor for [[Events]], following the
 * LocalDedup/LocalSimilarity pattern. Streaming inputs and tables above
 * [[graft.Gates.localEventsMaxRows]] (default 1M; 0 disables) always take
 * the distributed transforms, whose shuffle-per-key shapes are the
 * 100 TB path.
 *
 * Semantics mirrored 1:1 (LocalEventsSpec pins equality):
 *  - microsecond integral arithmetic (unix_micros) for windows/sessions
 *  - session order (ts, event_id); new session when gap > 30 min
 *  - sums rounded HALF_UP at 6dp; ranks by (rounded sum desc, id asc)
 */
object LocalEvents {

  private def round6(x: Double) = graft.ops.LocalDedup.round6(x)
  private def shipDf(spark: SparkSession, cols: (String, Array[_])*) =
    graft.functions.Ship.df(spark, cols: _*)

  private type Rows =
    (Array[Long], Array[Long], Array[Long], Array[String], Array[Double],
     Array[String])

  /** Collected (event_id, us, user_id, event_type, value, props) under
    * [[graft.Gates.localEventsMaxRows]] (props all-null when the column
    * is absent — unit-test DFs predate the sidecar); None → take the
    * distributed transform. The batch kernels all consume the same
    * per-dir cached events table and share one collect. */
  private val localRows: DataFrame => Option[Rows] =
    graft.Gates.localEventsMaxRows.memo("event_id",
      (r: Rows) => r._1.length) { events =>
      val propsCol =
        if (events.columns.contains("props")) col("props")
        else lit(null).cast("string").as("props")
      val rows = events.select(col("event_id"), unix_micros(col("ts")),
        col("user_id"), col("event_type"), col("value"), propsCol).collect()
      val n = rows.length
      val eid = new Array[Long](n)
      val us = new Array[Long](n)
      val uid = new Array[Long](n)
      val et = new Array[String](n)
      val v = new Array[Double](n)
      val props = new Array[String](n)
      var i = 0
      while (i < n) {
        val r = rows(i)
        eid(i) = r.getLong(0); us(i) = r.getLong(1); uid(i) = r.getLong(2)
        et(i) = r.getString(3); v(i) = r.getDouble(4)
        props(i) = if (r.isNullAt(5)) null else r.getString(5)
        i += 1
      }
      (eid, us, uid, et, v, props)
    }

  /** ≡ Events.windowedCounts (batch): tumbling 1-hour counts + rounded
    * value sums per event_type. */
  private[streaming] def windowedCounts(events: DataFrame): Option[DataFrame] =
    localRows(events).map { case (_, us, _, et, v, _) =>
      val hourUs = 3600L * 1000 * 1000
      val m = new java.util.LinkedHashMap[(Long, String), (Long, Double)]()
      var i = 0
      while (i < us.length) {
        val w = math.floorDiv(us(i), hourUs) * hourUs
        val k = (w, et(i))
        val prev = m.get(k)
        if (prev == null) m.put(k, (1L, v(i)))
        else m.put(k, (prev._1 + 1, prev._2 + v(i)))
        i += 1
      }
      val n = m.size()
      val wStart = new Array[Long](n)
      val etype = new Array[String](n)
      val cnt = new Array[Long](n)
      val sum = new Array[Double](n)
      var j = 0
      m.forEach { (k, agg) =>
        wStart(j) = k._1; etype(j) = k._2; cnt(j) = agg._1
        sum(j) = round6(agg._2)
        j += 1
      }
      shipDf(events.sparkSession, "w_start_us" -> wStart,
        "event_type" -> etype, "n_events" -> cnt, "sum_value" -> sum)
        .select(timestamp_micros(col("w_start_us")).as("w_start"),
          col("event_type"), col("n_events"), col("sum_value"))
    }

  /** ≡ Events.sessionize: per-user gap-based sessions ordered by
    * (ts, event_id). */
  private[streaming] def sessionize(events: DataFrame): Option[DataFrame] =
    localRows(events).map { case (eid, us, uid, _, v, _) =>
      // group per user, order by (us, event_id)
      val byUser = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
      var i = 0
      while (i < us.length) {
        var b = byUser.get(uid(i))
        if (b == null) {
          b = scala.collection.mutable.ArrayBuffer.empty[Int]
          byUser.put(uid(i), b)
        }
        b += i
        i += 1
      }
      val outU = scala.collection.mutable.ArrayBuilder.make[Long]
      val outS = scala.collection.mutable.ArrayBuilder.make[Long]
      val outN = scala.collection.mutable.ArrayBuilder.make[Long]
      val outD = scala.collection.mutable.ArrayBuilder.make[Long]
      val outV = scala.collection.mutable.ArrayBuilder.make[Double]
      byUser.forEach { (user, rows0) =>
        val rows = rows0.sortBy(r => (us(r), eid(r)))
        var k = 0
        while (k < rows.length) {
          // session = maximal run with inter-event gap ≤ 30 min
          var end = k + 1
          while (end < rows.length &&
            us(rows(end)) - us(rows(end - 1)) <= Events.SessionGapUs) end += 1
          var sum = 0.0
          var j = k
          while (j < end) { sum += v(rows(j)); j += 1 }
          outU += user
          outS += 0L // patched below: session_idx is per-user ordinal
          outN += (end - k).toLong
          outD += us(rows(end - 1)) - us(rows(k))
          outV += round6(sum)
          k = end
        }
      }
      // assign per-user session ordinals (1-based, in time order — the
      // running sum of new-session flags)
      val u = outU.result(); val sArr = outS.result()
      val ordinal = new java.util.HashMap[Long, Long]()
      var p = 0
      while (p < u.length) {
        val nxt = ordinal.getOrDefault(u(p), 0L) + 1
        ordinal.put(u(p), nxt)
        sArr(p) = nxt
        p += 1
      }
      shipDf(events.sparkSession, "user_id" -> u, "session_idx" -> sArr,
        "n_events" -> outN.result(), "duration_us" -> outD.result(),
        "sum_value" -> outV.result())
    }

  /** ≡ Events.asofJoin: per user, walk the merged (us, is_left, event_id)
    * order carrying the last right-type event. */
  private[streaming] def asofJoin(events: DataFrame, leftType: String,
                                  rightType: String): Option[DataFrame] =
    localRows(events).map { case (eid, us, uid, et, v, _) =>
      val byUser = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
      var i = 0
      while (i < us.length) {
        if (et(i) == leftType || et(i) == rightType) {
          var b = byUser.get(uid(i))
          if (b == null) {
            b = scala.collection.mutable.ArrayBuffer.empty[Int]
            byUser.put(uid(i), b)
          }
          b += i
        }
        i += 1
      }
      val outE = scala.collection.mutable.ArrayBuilder.make[Long]
      val outU = scala.collection.mutable.ArrayBuilder.make[Long]
      val outT = scala.collection.mutable.ArrayBuilder.make[Long]
      val outV = scala.collection.mutable.ArrayBuilder.make[Double]
      val outAE = scala.collection.mutable.ArrayBuilder.make[java.lang.Long]
      val outAT = scala.collection.mutable.ArrayBuilder.make[java.lang.Long]
      val outAV = scala.collection.mutable.ArrayBuilder.make[java.lang.Double]
      byUser.forEach { (user, rows0) =>
        // rights (is_left 0) before lefts at equal us — at-or-before
        val rows = rows0.sortBy(r =>
          (us(r), if (et(r) == leftType) 1 else 0, eid(r)))
        var lastRight = -1
        rows.foreach { r =>
          if (et(r) == rightType) lastRight = r
          else {
            outE += eid(r); outU += user; outT += us(r); outV += v(r)
            if (lastRight < 0) { outAE += null; outAT += null; outAV += null }
            else {
              outAE += Long.box(eid(lastRight))
              outAT += Long.box(us(lastRight))
              outAV += Double.box(v(lastRight))
            }
          }
        }
      }
      shipDf(events.sparkSession, "event_id" -> outE.result(),
        "user_id" -> outU.result(), "us" -> outT.result(),
        "value" -> outV.result(), "asof_event_id" -> outAE.result(),
        "asof_us" -> outAT.result(), "asof_value" -> outAV.result())
    }

  /** ≡ Events.rangeJoinCounts: per user, binary-search the sorted right
    * timestamps for `[us - windowUs, us)` and read count + value sum off
    * prefix sums. */
  private[streaming] def rangeJoinCounts(events: DataFrame, leftType: String,
                                         rightType: String,
                                         windowUs: Long): Option[DataFrame] =
    localRows(events).map { case (eid, us, uid, et, v, _) =>
      val rightsByUser = new java.util.HashMap[Long, (Array[Long], Array[Double])]()
      val tmp = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
      var i = 0
      while (i < us.length) {
        if (et(i) == rightType) {
          var b = tmp.get(uid(i))
          if (b == null) {
            b = scala.collection.mutable.ArrayBuffer.empty[Int]
            tmp.put(uid(i), b)
          }
          b += i
        }
        i += 1
      }
      tmp.forEach { (user, rows) =>
        val sorted = rows.sortBy(us(_)).toArray
        val ts = sorted.map(us(_))
        val pre = new Array[Double](ts.length + 1)
        var j = 0
        while (j < ts.length) { pre(j + 1) = pre(j) + v(sorted(j)); j += 1 }
        rightsByUser.put(user, (ts, pre))
      }
      // first index with ts(idx) >= key
      def lowerBound(ts: Array[Long], key: Long): Int = {
        var lo = 0; var hi = ts.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ts(mid) < key) lo = mid + 1 else hi = mid
        }
        lo
      }
      val outE = scala.collection.mutable.ArrayBuilder.make[Long]
      val outU = scala.collection.mutable.ArrayBuilder.make[Long]
      val outT = scala.collection.mutable.ArrayBuilder.make[Long]
      val outN = scala.collection.mutable.ArrayBuilder.make[Long]
      val outS = scala.collection.mutable.ArrayBuilder.make[Double]
      i = 0
      while (i < us.length) {
        if (et(i) == leftType) {
          outE += eid(i); outU += uid(i); outT += us(i)
          val r = rightsByUser.get(uid(i))
          if (r == null) { outN += 0L; outS += 0.0 }
          else {
            val lo = lowerBound(r._1, us(i) - windowUs)
            val hi = lowerBound(r._1, us(i))
            outN += (hi - lo).toLong
            outS += round6(r._2(hi) - r._2(lo))
          }
        }
        i += 1
      }
      shipDf(events.sparkSession, "event_id" -> outE.result(),
        "user_id" -> outU.result(), "us" -> outT.result(),
        "n_prior" -> outN.result(), "sum_prior_value" -> outS.result())
    }

  /** ≡ Events.funnel: per user, the first step-0 event then each later
    * step's first event at-or-after the previous step's time. */
  private[streaming] def funnel(events: DataFrame,
                                steps: Seq[String]): Option[DataFrame] =
    localRows(events).map { case (_, us, uid, et, _, _) =>
      val stepIdx = steps.zipWithIndex.toMap
      // per user, per step: sorted event times
      val byUser = new java.util.HashMap[Long, Array[scala.collection.mutable.ArrayBuffer[Long]]]()
      var i = 0
      while (i < us.length) {
        val si = stepIdx.getOrElse(et(i), -1)
        if (si >= 0) {
          var a = byUser.get(uid(i))
          if (a == null) {
            a = Array.fill(steps.length)(
              scala.collection.mutable.ArrayBuffer.empty[Long])
            byUser.put(uid(i), a)
          }
          a(si) += us(i)
        }
        i += 1
      }
      val outU = scala.collection.mutable.ArrayBuilder.make[Long]
      val outT = Array.fill(steps.length)(
        scala.collection.mutable.ArrayBuilder.make[java.lang.Long])
      val outN = scala.collection.mutable.ArrayBuilder.make[Long]
      byUser.forEach { (user, perStep) =>
        if (perStep(0).nonEmpty) {
          outU += user
          var prev: java.lang.Long = Long.box(perStep(0).min)
          outT(0) += prev
          var n = 1L
          var s = 1
          while (s < steps.length) {
            val nxt: java.lang.Long =
              if (prev == null) null
              else {
                val cand = perStep(s).filter(_ >= prev.longValue())
                if (cand.isEmpty) null else Long.box(cand.min)
              }
            outT(s) += nxt
            if (nxt != null) n += 1
            prev = nxt
            s += 1
          }
          outN += n
        }
      }
      val cols = ("user_id" -> (outU.result(): Array[_])) +:
        steps.indices.map(s =>
          s"t_${steps(s)}" -> (outT(s).result(): Array[_])) :+
        ("steps_completed" -> (outN.result(): Array[_]))
      shipDf(events.sparkSession, cols: _*)
    }

  /** ≡ Events.topUsers: top-k users by rounded value sum per event_type,
    * rank ties by user_id. */
  /** ≡ Events.retention: per (cohort day = user's first active day,
    * day offset) distinct-user counts. Day index = floorDiv(µs, 1 day)
    * — identical to casting a UTC timestamp to DATE for the epoch-
    * positive range. */
  private[streaming] def retention(events: DataFrame): Option[DataFrame] =
    localRows(events).map { case (_, us, uid, _, _, _) =>
      val dayUs = 86400L * 1000 * 1000
      val cohort = new java.util.HashMap[Long, Long]()
      var i = 0
      while (i < us.length) {
        val d = Math.floorDiv(us(i), dayUs)
        val c = cohort.get(uid(i))
        if (!cohort.containsKey(uid(i)) || d < c) cohort.put(uid(i), d)
        i += 1
      }
      // distinct (user, day) then count per (cohort, offset)
      val seenUserDay = new java.util.HashSet[(Long, Long)]()
      val counts = new java.util.LinkedHashMap[(Long, Long), Long]()
      i = 0
      while (i < us.length) {
        val d = Math.floorDiv(us(i), dayUs)
        if (seenUserDay.add((uid(i), d))) {
          val c = cohort.get(uid(i))
          val key = (c, d - c)
          val prev = counts.get(key)
          counts.put(key, if (prev == null) 1L else prev + 1L)
        }
        i += 1
      }
      val n = counts.size()
      val coh = new Array[Long](n)
      val off = new Array[Long](n)
      val cnt = new Array[Long](n)
      var j = 0
      counts.forEach { (k2, c) =>
        coh(j) = k2._1; off(j) = k2._2; cnt(j) = c
        j += 1
      }
      shipDf(events.sparkSession, "cohort_day" -> coh,
        "day_offset" -> off, "n_users" -> cnt)
    }

  private[streaming] def topUsers(events: DataFrame, k: Int): Option[DataFrame] =
    localRows(events).map { case (_, _, uid, et, v, _) =>
      val sums = new java.util.LinkedHashMap[(String, Long), Double]()
      var i = 0
      while (i < uid.length) {
        val key = (et(i), uid(i))
        val prev = sums.get(key)
        sums.put(key, if (prev == null) v(i) else prev + v(i))
        i += 1
      }
      val byType = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[(Long, Double)]]()
      sums.forEach { (key, s) =>
        var b = byType.get(key._1)
        if (b == null) {
          b = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
          byType.put(key._1, b)
        }
        b += ((key._2, round6(s)))
      }
      val outT = scala.collection.mutable.ArrayBuilder.make[String]
      val outU = scala.collection.mutable.ArrayBuilder.make[Long]
      val outR = scala.collection.mutable.ArrayBuilder.make[Long]
      val outV = scala.collection.mutable.ArrayBuilder.make[Double]
      byType.forEach { (etype, users) =>
        val ranked = users.sortBy { case (user, total) => (-total, user) }
        var r = 0
        while (r < math.min(k, ranked.length)) {
          outT += etype; outU += ranked(r)._1
          outR += (r + 1).toLong; outV += ranked(r)._2
          r += 1
        }
      }
      shipDf(events.sparkSession, "event_type" -> outT.result(),
        "user_id" -> outU.result(), "rank" -> outR.result(),
        "total_value" -> outV.result())
    }

  private val PropsK = """\{"k": (-?\d{1,18})\}""".r

  /** Strict-shape twin of `get_json_object(props, '$.k')`: handles
    * exactly the `{"k": <long>}` scalar payload (null → the NULL
    * bucket). ANY other payload routes the whole input to the
    * distributed plan — the two paths can then never disagree on
    * exotic JSON (the `pack`-for-nulls convention). */
  private[streaming] def propsProfile(events: DataFrame): Option[DataFrame] =
    localRows(events).flatMap { case (_, _, _, et, v, props) =>
      val n = et.length
      val kk = new Array[Long](n)
      val has = new Array[Boolean](n)
      var ok = true
      var i = 0
      while (ok && i < n) {
        props(i) match {
          case null       => // NULL bucket
          case PropsK(d)  => kk(i) = d.toLong; has(i) = true
          case _          => ok = false
        }
        i += 1
      }
      if (!ok) None
      else {
        val cnt = new java.util.LinkedHashMap[(String, java.lang.Long),
          (Long, Long, Long)]()
        val sums = new java.util.LinkedHashMap[(String, java.lang.Long),
          Double]()
        i = 0
        while (i < n) {
          val dec: java.lang.Long =
            if (has(i)) java.lang.Long.valueOf(Math.floorDiv(kk(i), 10L))
            else null
          val key = (et(i), dec)
          val p = cnt.get(key)
          if (p == null) cnt.put(key, (1L, kk(i), kk(i)))
          else cnt.put(key, (p._1 + 1L,
            math.min(p._2, kk(i)), math.max(p._3, kk(i))))
          val s = sums.get(key)
          sums.put(key, if (s == null) v(i) else s + v(i))
          i += 1
        }
        val g = cnt.size()
        val oT = new Array[String](g)
        val oD = new Array[java.lang.Long](g)
        val oN = new Array[Long](g)
        val oMin = new Array[java.lang.Long](g)
        val oMax = new Array[java.lang.Long](g)
        val oS = new Array[Double](g)
        var j = 0
        cnt.forEach { (key, p) =>
          oT(j) = key._1; oD(j) = key._2; oN(j) = p._1
          oMin(j) = if (key._2 == null) null else java.lang.Long.valueOf(p._2)
          oMax(j) = if (key._2 == null) null else java.lang.Long.valueOf(p._3)
          oS(j) = round6(sums.get(key))
          j += 1
        }
        Some(shipDf(events.sparkSession, "event_type" -> oT,
          "k_decade" -> oD, "n_events" -> oN, "min_k" -> oMin,
          "max_k" -> oMax, "sum_value" -> oS))
      }
    }

  /** DAU + trailing-7-day WAU over the distinct user-day set. Exact
    * integer arithmetic throughout — bit-identical to the distributed
    * explode-to-bucket plan by construction. */
  private[streaming] def activeUsers(events: DataFrame): Option[DataFrame] =
    localRows(events).map { case (_, us, uid, _, _, _) =>
      val dayUs = 86400L * 1000 * 1000
      val byDay = new java.util.TreeMap[Long, java.util.HashSet[Long]]()
      var i = 0
      while (i < us.length) {
        val d = Math.floorDiv(us(i), dayUs)
        var set = byDay.get(d)
        if (set == null) { set = new java.util.HashSet[Long](); byDay.put(d, set) }
        set.add(uid(i))
        i += 1
      }
      import scala.jdk.CollectionConverters._
      val days = byDay.keySet().asScala.toArray
      val dau = days.map(d => byDay.get(d).size.toLong)
      val wau = days.map { d =>
        val s = new java.util.HashSet[Long]()
        var dd = d - 6
        while (dd <= d) {
          val set = byDay.get(dd)
          if (set != null) s.addAll(set)
          dd += 1
        }
        s.size.toLong
      }
      shipDf(events.sparkSession, "day" -> days, "dau" -> dau, "wau7" -> wau)
    }

  /** ≡ Events.rfmDistributed: per-user last-event µs, event count,
    * purchase count, exact micro-quantized purchase-value sum (same
    * HALF_UP round as the column `round(value·1e6, 0)`). */
  private[streaming] def rfm(events: DataFrame): Option[DataFrame] =
    localRows(events).map { case (_, us, uid, et, v, _) =>
      final class Acc {
        var lastUs = Long.MinValue
        var nEvents = 0L
        var nPurch = 0L
        var microSum = 0L
      }
      val byUser = new java.util.TreeMap[Long, Acc]()
      var i = 0
      while (i < us.length) {
        var a = byUser.get(uid(i))
        if (a == null) { a = new Acc; byUser.put(uid(i), a) }
        if (us(i) > a.lastUs) a.lastUs = us(i)
        a.nEvents += 1
        if (et(i) == "purchase") {
          a.nPurch += 1
          a.microSum += java.math.BigDecimal.valueOf(v(i) * 1000000.0)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        }
        i += 1
      }
      import scala.jdk.CollectionConverters._
      val users = byUser.keySet().asScala.toArray
      shipDf(events.sparkSession,
        "user_id" -> users,
        "last_us" -> users.map(byUser.get(_).lastUs),
        "n_events" -> users.map(byUser.get(_).nEvents),
        "n_purchases" -> users.map(byUser.get(_).nPurch),
        "monetary" -> users.map(u => byUser.get(u).microSum / 1000000.0))
    }

  /** ≡ Events.latestRecordDistributed: per-user latest event by
    * (us, event_id) — last write wins, event_id breaks ties. */
  private[streaming] def latestRecord(events: DataFrame): Option[DataFrame] =
    localRows(events).map { case (eid, us, uid, et, v, _) =>
      val byUser = new java.util.TreeMap[Long, Int]()
      var i = 0
      while (i < us.length) {
        if (!byUser.containsKey(uid(i))) byUser.put(uid(i), i)
        else {
          val k = byUser.get(uid(i))
          if (us(i) > us(k) || (us(i) == us(k) && eid(i) > eid(k)))
            byUser.put(uid(i), i)
        }
        i += 1
      }
      import scala.jdk.CollectionConverters._
      val users = byUser.keySet().asScala.toArray
      val picks = users.map(byUser.get(_).intValue())
      shipDf(events.sparkSession,
        "user_id" -> users,
        "event_id" -> picks.map(eid),
        "last_us" -> picks.map(us),
        "event_type" -> picks.map(et),
        "value" -> picks.map(v))
    }

  /** ≡ Events.dwellByTypeDistributed: per-type stats of the gap from
    * each event to the user's next event of ANY type, attributed to
    * the earlier event's type; exact integer µs, floor-div mean. */
  private[streaming] def dwellByType(events: DataFrame): Option[DataFrame] =
    localRows(events).map { case (eid, us, uid, et, _, _) =>
      val n = us.length
      val order = Array.range(0, n).sortBy(i => (uid(i), us(i), eid(i)))
      final class Acc {
        var n = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
        var sum = 0L
      }
      val byType = new java.util.TreeMap[String, Acc]()
      var j = 0
      while (j < n - 1) {
        val i = order(j); val nx = order(j + 1)
        if (uid(i) == uid(nx)) {
          val d = us(nx) - us(i)
          var a = byType.get(et(i))
          if (a == null) { a = new Acc; byType.put(et(i), a) }
          a.n += 1
          if (d < a.mn) a.mn = d
          if (d > a.mx) a.mx = d
          a.sum += d
        }
        j += 1
      }
      import scala.jdk.CollectionConverters._
      val types = byType.keySet().asScala.toArray
      shipDf(events.sparkSession,
        "event_type" -> types,
        "n_dwell" -> types.map(byType.get(_).n),
        "min_dwell_us" -> types.map(byType.get(_).mn),
        "max_dwell_us" -> types.map(byType.get(_).mx),
        "sum_dwell_us" -> types.map(byType.get(_).sum),
        "avg_dwell_us" -> types.map(t =>
          math.floorDiv(byType.get(t).sum, byType.get(t).n)))
    }

  /** Hourly peak session concurrency: the same ±1 sweep as the
    * distributed two-phase prefix sum, on driver arrays — sessionize
    * per user (order (us, event_id), 30-min gap), emit closed
    * [first, last] intervals, sort deltas by (us, starts-first),
    * running-sum, max + start-count per hour bucket. All integral. */
  private[streaming] def peakConcurrency(events: DataFrame): Option[DataFrame] =
    localRows(events).map { case (eid, us, uid, _, _, _) =>
      val n = us.length
      val order = Array.range(0, n)
        .sortBy(i => (uid(i), us(i), eid(i)))
      val sUs = scala.collection.mutable.ArrayBuilder.make[Long]
      val eUs = scala.collection.mutable.ArrayBuilder.make[Long]
      var j = 0
      var curStart = 0L
      var lastUs = 0L
      var curUid = Long.MinValue
      var open = false
      while (j < n) {
        val i = order(j)
        val boundary = !open || uid(i) != curUid ||
          us(i) - lastUs > Events.SessionGapUs
        if (boundary) {
          if (open) { sUs += curStart; eUs += lastUs }
          curStart = us(i); curUid = uid(i); open = true
        }
        lastUs = us(i)
        j += 1
      }
      if (open) { sUs += curStart; eUs += lastUs }
      val starts = sUs.result()
      val ends = eUs.result()
      // deltas sorted by (us, starts-first): +1 before −1 at a tie
      val m = starts.length
      val dUs = new Array[Long](2 * m)
      val dD = new Array[Long](2 * m)
      var p = 0
      while (p < m) {
        dUs(2 * p) = starts(p); dD(2 * p) = 1L
        dUs(2 * p + 1) = ends(p); dD(2 * p + 1) = -1L
        p += 1
      }
      val dOrder = Array.range(0, 2 * m).sortBy(i => (dUs(i), -dD(i)))
      val hourUs = 3600L * 1000 * 1000
      val byHour = new java.util.TreeMap[Long, Array[Long]]() // peak, nStarts
      var run = 0L
      p = 0
      while (p < dOrder.length) {
        val i = dOrder(p)
        run += dD(i)
        val h = Math.floorDiv(dUs(i), hourUs)
        var acc = byHour.get(h)
        if (acc == null) { acc = Array(Long.MinValue, 0L); byHour.put(h, acc) }
        if (run > acc(0)) acc(0) = run
        if (dD(i) == 1L) acc(1) += 1L
        p += 1
      }
      import scala.jdk.CollectionConverters._
      val hours = byHour.keySet().asScala.toArray
      shipDf(events.sparkSession, "hour_bucket" -> hours,
        "peak_sessions" -> hours.map(h => byHour.get(h)(0)),
        "n_starts" -> hours.map(h => byHour.get(h)(1)))
    }
}
