package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.api.{Dedup, Windows}

/** Generative properties (SURVEY §5.3): window algebra and dedup
  * invariants on random inputs, run through the same API the declared
  * queries use. ScalaCheck's sbt framework runs this object directly.
  */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  // MUST build through GraftSession: in a shared-JVM suite run the
  // FIRST builder wins getOrCreate, and a bare builder here would hand
  // every later suite a session without the engine's static confs
  // (spark.sql.extensions — the MATCH_RECOGNIZE parser — in particular)
  private lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime

  /** Small-alphabet tokens — repeats within and across docs are the point. */
  private val winTokGen: Gen[String] = Gen.choose(0, 25).map(i => s"t$i")

  /** (user, ts-offset-seconds, cents) event rows over a ~2 day span. */
  private val eventsGen: Gen[List[(Long, Long, Long)]] =
    Gen.nonEmptyListOf(for {
      user <- Gen.choose(1L, 4L)
      offs <- Gen.choose(0L, 2L * 86400)
      cents <- Gen.choose(0L, 99999L)
    } yield (user, offs, cents))

  private def toDf(rows: List[(Long, Long, Long)]) = {
    val sp = spark
    import sp.implicits._
    rows.map { case (u, o, c) =>
      (u, new Timestamp(base + o * 1000), c / 100.0)
    }.toDF("user_id", "ts", "value")
  }

  property("sliding windows assign every row to exactly size/slide windows") =
    forAll(eventsGen) { rows =>
      val out = Windows.sliding(toDf(rows), "ts", "2 hours", "30 minutes",
        Seq(col("user_id")), Seq(count(lit(1)).as("n")))
      val total = out.agg(sum(col("n"))).head().getLong(0)
      total == rows.size.toLong * 4
    }

  /** (user, ts-offset-seconds or null, cents) rows over a ~2 day span,
    * a third of the offsets on the 5 min grid so rows land on window
    * boundaries. */
  private val nullableTsEventsGen: Gen[List[(Long, Option[Long], Long)]] =
    Gen.nonEmptyListOf(for {
      user <- Gen.choose(1L, 3L)
      offs <- Gen.frequency(
        1 -> Gen.const(None),
        6 -> Gen.choose(0L, 2L * 86400).map(Some(_)),
        3 -> Gen.choose(0L, 2L * 288).map(i => Some(i * 300)))
      cents <- Gen.choose(0L, 99999L)
    } yield (user, offs, cents))

  property("sliding windows equal Spark's window(ts, size, slide) grouping, null ts included") =
    forAll(nullableTsEventsGen) { rows =>
      val sp = spark
      import sp.implicits._
      val df = rows.map { case (u, o, c) =>
        (u, o.map(s => new Timestamp(base + s * 1000)), c / 100.0)
      }.toDF("user_id", "ts", "value")
      val aggs = Seq(count(lit(1)).as("n_events"),
        sum(graft.Det.dec2(col("value"))).cast("double").as("sum_value"))
      // 25 min does not divide 1 h (the filtered case); 10 min divides 6 h
      Seq("1 hour" -> "25 minutes", "6 hours" -> "10 minutes").forall { case (size, slide) =>
        val got = Windows.sliding(df, "ts", size, slide, Seq(col("user_id")), aggs)
        val native = df.groupBy(window(col("ts"), size, slide), col("user_id"))
          .agg(aggs.head, aggs.tail: _*)
          .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
            col("user_id"), col("n_events"), col("sum_value"))
        got.schema == native.schema && got.collect().toSet == native.collect().toSet
      }
    }.useSeed(org.scalacheck.rng.Seed(6L))

  property("FIRE_AND_PURGE panes lie on the 15 min grid and partition each window exactly") =
    forAll(eventsGen) { rows =>
      val sp = spark
      import sp.implicits._
      import graft.streaming.{Ev, StreamOps}
      val evs = rows.zipWithIndex.map { case ((u, o, c), i) =>
        Ev(i.toLong, new Timestamp(base + o * 1000), u, "click", c / 100.0)
      }.toDS()
      val deltas = StreamOps.earlyFirePurgeWindow(evs, streaming = false).collect()
      // every fire boundary is a strict 15 min multiple inside its window
      val okBounds = deltas.forall { d =>
        val ws = d.window_start.getTime
        val b = d.fire_ts.getTime
        b > ws && b <= ws + 3600000L && (b - ws) % 900000L == 0
      }
      // the pane deltas PARTITION each (user, hour window): counts and
      // exact cents re-sum to the plain per-window totals
      val got = deltas.groupBy(d => (d.user_id, d.window_start.getTime))
        .view.mapValues(ds =>
          (ds.map(_.n_events).sum, ds.map(d => math.round(d.sum_value * 100)).sum))
        .toMap
      val want = rows.zipWithIndex.groupBy { case ((u, o, _), _) =>
        (u, Math.floorDiv(base + o * 1000, 3600000L) * 3600000L)
      }.view.mapValues(g => (g.size.toLong, g.map(_._1._3).sum)).toMap
      okBounds && got == want
    }

  property("pane-based two-level sliding equals direct sliding") =
    forAll(eventsGen) { rows =>
      val df = toDf(rows)
      val aggs = Seq(count(lit(1)).as("n_events"),
        sum(graft.Det.dec2(col("value"))).cast("double").as("sum_value"))
      val direct = Windows.sliding(df, "ts", "2 hours", "30 minutes",
          Seq(col("user_id")), aggs)
        .select("window_start", "window_end", "user_id", "n_events", "sum_value")
        .collect().toSet
      val paned = Windows.slidingByPanes(df, "ts", "30 minutes", slots = 4,
          keys = Seq(col("user_id")),
          paneAggs = Seq(count(lit(1)).as("pn"), sum(graft.Det.dec2(col("value"))).as("ps")),
          rollupAggs = Seq(sum(col("pn")).as("n_events"),
            sum(col("ps")).cast("double").as("sum_value")))
        .select("window_start", "window_end", "user_id", "n_events", "sum_value")
        .collect().toSet
      direct == paned
    }

  property("session windows of one user are disjoint and gap-separated") =
    forAll(eventsGen) { rows =>
      val out = Windows.session(toDf(rows), "ts", "30 minutes",
          Seq(col("user_id")), Seq(count(lit(1)).as("n")))
        .select("user_id", "session_start", "session_end")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      out.groupBy(_._1).forall { case (_, ss) =>
        val sorted = ss.sortBy(_._2.getTime)
        sorted.zip(sorted.drop(1)).forall { case ((_, _, e1), (_, s2, _)) =>
          s2.getTime >= e1.getTime
        }
      }
    }

  private val docsGen: Gen[List[(Long, String)]] =
    Gen.nonEmptyListOf(for {
      id <- Gen.choose(1L, 1000L)
      words <- Gen.nonEmptyListOf(Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
    } yield (id, words.mkString(" ")))
      .map(_.groupBy(_._1).map { case (id, vs) => (id, vs.head._2) }.toList)

  property("md5 signatures are element-order independent (partial-agg safe)") =
    forAll(docsGen) { docs =>
      val sp = spark
      import sp.implicits._
      import graft.functions.Signatures._
      // the same token SET in two different array orders must produce the
      // same minhash and simhash signatures (set semantics; shuffles and
      // partial aggregation must not affect results)
      val df = docs.toDF("doc_id", "text")
        .withColumn("toks", array_distinct(split(col("text"), " ")))
        .withColumn("rev", reverse(col("toks")))
      val bad = df.select(
          minhash_sig_mod(md5_prefix(col("toks"), 8),
            Dedup.minhashA, Dedup.minhashB, Dedup.MinhashP).as("m1"),
          minhash_sig_mod(md5_prefix(col("rev"), 8),
            Dedup.minhashA, Dedup.minhashB, Dedup.MinhashP).as("m2"),
          simhash_sig_strict(md5_prefix(col("toks"), 15), 60).as("s1"),
          simhash_sig_strict(md5_prefix(col("rev"), 15), 60).as("s2"))
        .filter(col("m1") =!= col("m2") || col("s1") =!= col("s2"))
      bad.count() == 0
    }

  private val rawTextGen: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', ' ', '!', ',', '.', '"', '\t', 'É')))
      .map(_.mkString))

  property("text normalization is idempotent and emits only [a-z0-9 ]") =
    forAll(rawTextGen) { texts =>
      val sp = spark
      import sp.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val once = graft.api.TextOps.normalize(df, "text")
        .select(col("id"), col("norm_text"))
      val twice = graft.api.TextOps.normalize(
        once.withColumnRenamed("norm_text", "text"), "text")
      val changed = once.join(twice, "id")
        .filter(once("norm_text") =!= twice("norm_text")).count()
      val dirty = once.filter(col("norm_text").rlike("[^a-z0-9 ]")).count()
      val doubled = once.filter(col("norm_text").contains("  ")).count()
      changed == 0 && dirty == 0 && doubled == 0
    }

  property("bandedRangeJoin equals the naive theta join on random signed data") =
    forAll(
      Gen.nonEmptyListOf(Gen.choose(-5000, 5000)).map(_.take(60)),
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(-5000, 5000), Gen.choose(0, 300)))
        .map(_.take(30)),
      Gen.oneOf(1.0, 2.5, 10.0, 137.0)) { (pts, ivs, width) =>
      val sp = spark
      import sp.implicits._
      // values in [-50, 50] with negative bucket indices exercised;
      // interval spans up to 3 (possibly many) buckets wide
      val points = pts.zipWithIndex.map { case (v, i) => (i.toLong, v / 100.0) }
        .toDF("pid", "v")
      val intervals = ivs.zipWithIndex.map { case ((lo, span), i) =>
        (i.toLong, lo / 100.0, lo / 100.0 + span / 100.0) }
        .toDF("iid", "lo", "hi")
      val naive = points.join(intervals,
          col("v") >= col("lo") && col("v") <= col("hi"))
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      val banded = graft.api.Joins.bandedRangeJoin(
          points, "v", intervals, "lo", "hi", width)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      banded == naive
    }

  property("exact dedup is idempotent and survivors cover all content") =
    forAll(docsGen) { docs =>
      val sp = spark
      import sp.implicits._
      val df = docs.toDF("doc_id", "text")
      val surv1 = Dedup.exactSurvivors(df, "doc_id", "text")
      val again = Dedup.exactSurvivors(
        surv1.join(df, "doc_id").select("doc_id", "text"), "doc_id", "text")
      surv1.select("doc_id").collect().toSet == again.select("doc_id").collect().toSet &&
        surv1.count() == df.select("text").distinct().count()
    }

  /** Random keyed event sequences: (user, seconds offset, event id,
    * type) with types weighted toward clicks so C+ P matches occur.
    */
  private val cepGen: Gen[List[(Long, Long, Long, String)]] =
    Gen.nonEmptyListOf(for {
      user <- Gen.choose(1L, 3L)
      offs <- Gen.choose(0L, 7200L)
      typ <- Gen.frequency(5 -> Gen.const("click"), 2 -> Gen.const("purchase"),
        2 -> Gen.const("view"))
    } yield (user, offs, typ)).map(_.zipWithIndex.map {
      case ((u, o, t), i) => (u, o, i.toLong, t)
    })

  /** Sequential reference matcher for greedy C+ P WITHIN — the spec both
    * the declarative rewrite (api.Cep) and the stateful streaming matcher
    * must reproduce.
    */
  private def cepReference(rows: List[(Long, Long, Long, String)],
                           withinSec: Long): Set[(Long, Long, Long, Long)] =
    rows.groupBy(_._1).flatMap { case (user, evs) =>
      var run = List.empty[Long] // click offsets, oldest first
      evs.sortBy(e => (e._2, e._3)).flatMap { case (_, offs, id, typ) =>
        typ match {
          case "click" => run = run :+ offs; None
          case "purchase" =>
            val hits = run.filter(_ >= offs - withinSec)
            run = Nil
            if (hits.nonEmpty) Some((user, id, hits.size.toLong, hits.min)) else None
          case _ => run = Nil; None
        }
      }
    }.toSet

  property("CEP: declarative rewrite and stateful matcher equal the reference") =
    forAll(cepGen) { rows =>
      val sp = spark
      import sp.implicits._
      // distinct (user, ts): the engine tiebreaks equal timestamps by
      // event id, while the reference's WITHIN math is ts-only — dedup
      // keeps the property about ordering semantics, not tie choices
      val uniq = rows.groupBy(r => (r._1, r._2)).map(_._2.head).toList
      val df = uniq.map { case (u, o, id, t) =>
        (id, new Timestamp(base + o * 1000), u, t, 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val want = cepReference(uniq, withinSec = 600)
      val decl = graft.api.Cep.runThenFinal(df, "user_id", "ts", "event_id",
          "event_type", "click", "purchase", expr("INTERVAL 10 MINUTES"))
        .select(col("user_id"), col("final_id"), col("n_run"),
          ((col("first_run_ts").cast("long")) - lit(base / 1000)).as("offs"))
        .as[(Long, Long, Long, Long)].collect().toSet
      val stateful = graft.streaming.StreamOps
        .cepRunThenFinal(df.as[graft.streaming.Ev], withinMinutes = 10)
        .select(col("user_id"), col("purchase_id"), col("n_clicks"),
          ((col("first_click_ts").cast("long")) - lit(base / 1000)).as("offs"))
        .as[(Long, Long, Long, Long)].collect().toSet
      decl == want && stateful == want
    }

  property("evictor window keeps exactly the last-N suffix per (user, hour)") =
    forAll(eventsGen) { rows =>
      val sp = spark
      import sp.implicits._
      val evs = rows.zipWithIndex.map { case ((u, o, c), i) =>
        graft.streaming.Ev(i.toLong, new Timestamp(base + o * 1000), u,
          "click", c / 100.0)
      }
      val got = graft.streaming.StreamOps
        .evictorWindow(evs.toDS(), keepN = 3, streaming = false)
        .collect().map(w => (w.user_id, w.window_start.getTime, w.n_seen,
          w.n_kept, math.round(w.sum_kept * 100), w.first_kept_id,
          w.last_kept_id)).toSet
      // independent reimplementation: suffix of the (ts, id)-sorted group
      val want = evs.groupBy(e => (e.user_id, (e.ts.getTime / 3600000L) * 3600000L))
        .map { case ((u, w), es) =>
          val tail = es.sortBy(e => (e.ts.getTime, e.event_id)).takeRight(3)
          (u, w, es.size.toLong, tail.size.toLong,
            tail.map(e => math.round(e.value * 100)).sum,
            tail.head.event_id, tail.last.event_id)
        }.toSet
      got == want
    }

  property("sliding count window fires equal the frame-slice reimplementation") =
    forAll(eventsGen) { rows =>
      val sp = spark
      import sp.implicits._
      val evs = rows.zipWithIndex.map { case ((u, o, c), i) =>
        graft.streaming.Ev(i.toLong, new Timestamp(base + o * 1000), u,
          "click", c / 100.0)
      }
      val got = graft.streaming.StreamOps
        .countSlideWindow(evs.toDS(), size = 4, slide = 2, streaming = false)
        .collect().map(f => (f.user_id, f.fire_seq, f.n_in_window,
          math.round(f.sum_value * 100), f.first_id, f.last_id)).toSet
      // independent reimplementation: every slide-th position of the
      // (ts, id)-sorted group takes the trailing min(pos, size) slice
      val want = evs.groupBy(_.user_id).flatMap { case (u, es) =>
        val sorted = es.sortBy(e => (e.ts.getTime, e.event_id))
        (2 to sorted.size by 2).map { p =>
          val win = sorted.slice(math.max(0, p - 4), p)
          (u, p.toLong / 2, win.size.toLong,
            win.map(e => math.round(e.value * 100)).sum,
            win.head.event_id, win.last.event_id)
        }
      }.toSet
      got == want
    }

  property("delta-trigger fires equal the sequential last-fired-chain reimplementation") =
    forAll(eventsGen) { rows =>
      val sp = spark
      import sp.implicits._
      val th = 20000L
      val evs = rows.zipWithIndex.map { case ((u, o, c), i) =>
        graft.streaming.Ev(i.toLong, new Timestamp(base + o * 1000), u,
          "click", c / 100.0)
      }
      val got = graft.streaming.StreamOps
        .deltaTrigger(evs.toDS(), thresholdCents = th, streaming = false)
        .collect().map(f => (f.user_id, f.event_id, f.n_events,
          math.round(f.sum_value * 100), math.round(f.fired_value * 100))).toSet
      // independent reimplementation: per-key (ts, id)-ordered scan with
      // a baseline that updates ONLY on fires, seeded silently
      val want = evs.groupBy(_.user_id).flatMap { case (u, es) =>
        val sorted = es.sortBy(e => (e.ts.getTime, e.event_id))
        var last = math.round(sorted.head.value * 100)
        var sum = last
        sorted.tail.zipWithIndex.flatMap { case (e, i) =>
          val c = math.round(e.value * 100)
          sum += c
          if (math.abs(c - last) > th) {
            last = c
            Some((u, e.event_id, i.toLong + 2, sum, c))
          } else None
        }
      }.toSet
      got == want
    }

  property("pq signatures equal a pure-Scala codebook reimplementation on random vectors") =
    forAll(Gen.nonEmptyListOf(Gen.listOfN(64, Gen.choose(-2.0f, 2.0f)))) { vecs =>
      val sp = spark
      import sp.implicits._
      val (m, kc, sd) = (4, 8, 16)
      val cb = graft.api.Similarity.pqCodebooks(m, kc, sd)
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "vec")
        .withColumn("vec", col("vec").cast("array<float>"))
      val got = df.select(col("id"),
          graft.functions.Signatures.pq_code_sig(col("vec"), cb, m, kc, sd).as("codes"),
          graft.functions.Signatures.pq_adc_sig(col("vec"), cb, m, kc, sd).as("adc"))
        .collect().map(r => r.getLong(0) ->
          (r.getSeq[Long](1).toList, r.getSeq[Long](2).toList)).toMap
      vecs.zipWithIndex.forall { case (v, i) =>
        val q = v.map(x => math.floor(x.toDouble * 1000.0 + 0.5).toLong)
        val dists = (0 until m).map { s =>
          (0 until kc).map { c =>
            (0 until sd).map { d =>
              val diff = q(s * sd + d) - cb((s * kc + c) * sd + d)
              diff * diff
            }.sum
          }
        }
        val codes = dists.map(row => row.indexOf(row.min).toLong).toList
        val (gc, ga) = (got(i.toLong)._1, got(i.toLong)._2)
        gc == codes && ga == dists.flatten.toList
      }
    }

  property("broadcast-state alerts equal the latest-rule-at-event-time reimplementation") =
    forAll(eventsGen, eventsGen) { (evRows, ruleRows) =>
      val sp = spark
      import sp.implicits._
      val types = Vector("purchase", "click")
      val evs = evRows.zipWithIndex.map { case ((u, o, c), i) =>
        graft.streaming.Ev(i.toLong, new Timestamp(base + o * 1000), u,
          types(i % 2), c / 100.0)
      }
      val rules = ruleRows.zipWithIndex.map { case ((_, o, c), i) =>
        graft.streaming.Rule(100000L + i, new Timestamp(base + o * 1000),
          types(i % 2), c / 100.0)
      }
      val got = graft.streaming.StreamOps
        .ruleAlerts(evs.toDS(), rules.toDS(), streaming = false)
        .collect().map(a => (a.event_id, a.rule_id,
          math.round(a.threshold * 100))).toSet
      // independent reimplementation: latest (ts, id) rule at or before
      // the event's ts for its type; alert iff value clears it
      val want = evs.flatMap { e =>
        val applicable = rules.filter(r =>
          r.target_type == e.event_type && r.rule_ts.getTime <= e.ts.getTime)
        if (applicable.isEmpty) None
        else {
          val latest = applicable.maxBy(r => (r.rule_ts.getTime, r.rule_id))
          if (e.value > latest.threshold)
            Some((e.event_id, latest.rule_id, math.round(latest.threshold * 100)))
          else None
        }
      }.toSet
      got == want
    }

  property("keyed connect equals the per-user as-of-limit reimplementation") =
    forAll(eventsGen, eventsGen) { (evRows, limRows) =>
      val sp = spark
      import sp.implicits._
      val evs = evRows.zipWithIndex.map { case ((u, o, c), i) =>
        graft.streaming.Ev(i.toLong, new Timestamp(base + o * 1000), u,
          "click", c / 100.0)
      }
      val lims = limRows.zipWithIndex.map { case ((u, o, c), i) =>
        graft.streaming.Limit(100000L + i, new Timestamp(base + o * 1000),
          u, c / 100.0)
      }
      val got = graft.streaming.StreamOps
        .connectGate(evs.toDS(), lims.toDS(), streaming = false)
        .collect().map(a => (a.event_id, a.limit_id, a.n_over)).toSet
      // independent reimplementation: per user, in (ts, event_id) order,
      // the latest limit with limit_ts <= ts (ties: higher limit_id)
      // gates the event; n_over counts the user's alerts so far
      val want = evs.groupBy(_.user_id).flatMap { case (u, es) =>
        var nOver = 0L
        es.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
          val applicable = lims.filter(l =>
            l.user_id == u && l.limit_ts.getTime <= e.ts.getTime)
          if (applicable.isEmpty) None
          else {
            val live = applicable.maxBy(l => (l.limit_ts.getTime, l.limit_id))
            if (e.value > live.limit_value) {
              nOver += 1
              Some((e.event_id, live.limit_id, nOver))
            } else None
          }
        }
      }.toSet
      got == want
    }

  property("side-output routing equals the arrival-order max-ts reimplementation") =
    forAll(eventsGen) { rows =>
      val sp = spark
      import sp.implicits._
      val types = Vector("click", "error")
      val evs = rows.zipWithIndex.map { case ((u, o, c), i) =>
        graft.streaming.Ev(i.toLong, new Timestamp(base + o * 1000), u,
          types(i % 2), c / 100.0)
      }
      // deterministic arrival scramble (Knuth multiplicative hash) so the
      // late route actually triggers on the time-ordered generator
      def arrival(e: graft.streaming.Ev): String =
        f"${(e.event_id * 2654435761L) % 1000003L}%07d"
      val horizonMin = 60
      val got = graft.streaming.StreamOps
        .sideOutputs(evs.toDS(), arrival, horizonMin, "error", streaming = false)
        .collect().map(r => (r.event_id, r.route)).toSet
      val want = evs.groupBy(_.user_id).flatMap { case (_, es) =>
        var maxTs = Long.MinValue
        es.sortBy(arrival).map { e =>
          val t = e.ts.getTime * 1000L
          val route =
            if (maxTs != Long.MinValue && t < maxTs - horizonMin * 60L * 1000000L) "late"
            else if (e.event_type == "error") "fail"
            else "pass"
          maxTs = math.max(maxTs, t)
          (e.event_id, route)
        }
      }.toSet
      got == want && got.size == evs.size // every event routed exactly once
    }

  property("OVER fold equals brute-force RANGE frame; chunked == one-shot") =
    forAll(for {
      rows <- Gen.nonEmptyListOf(for {
        offSec <- Gen.choose(0L, 300L) // small domain -> frequent equal-ts peers
        cents <- Gen.choose(0L, 9999L)
      } yield (offSec, cents))
      frameSec <- Gen.choose(1L, 120L)
    } yield (rows, frameSec)) { case (rows, frameSec) =>
      import graft.streaming.{KeptEv, OverAgg, StreamOps}
      val frameUs = frameSec * 1000000L
      val evs = rows.zipWithIndex.map { case ((o, c), i) =>
        KeptEv(o * 1000000L, i.toLong, c)
      }
      val oneShot = StreamOps.overFold(1L, evs.toArray,
        scala.collection.mutable.ArrayBuffer.empty[KeptEv], frameUs).toSet
      // brute force: the SQL RANGE frame, peers included via <= both ways
      val brute = evs.map { e =>
        val in = evs.filter(x => x.ts_us >= e.ts_us - frameUs && x.ts_us <= e.ts_us)
        OverAgg(1L, e.event_id, in.size.toLong, in.map(_.cents).sum / 100.0)
      }.toSet
      // incremental: feed timestamp groups through a shared window buffer
      // two groups at a time — the processor's timer-chunked call pattern
      val win = scala.collection.mutable.ArrayBuffer.empty[KeptEv]
      val chunked = evs.sortBy(k => (k.ts_us, k.event_id))
        .groupBy(_.ts_us).toSeq.sortBy(_._1).map(_._2)
        .grouped(2)
        .flatMap(ch => StreamOps.overFold(1L, ch.flatten.toArray, win, frameUs))
        .toSet
      oneShot == brute && chunked == brute
    }

  property("ROWS fold equals brute-force ROWS frame; chunked == one-shot") =
    forAll(for {
      rows <- Gen.nonEmptyListOf(for {
        offSec <- Gen.choose(0L, 300L) // small domain -> frequent equal-ts ties
        cents <- Gen.choose(0L, 9999L)
      } yield (offSec, cents))
      n <- Gen.choose(1, 8)
    } yield (rows, n)) { case (rows, n) =>
      import graft.streaming.{KeptEv, OverRows, StreamOps}
      val evs = rows.zipWithIndex.map { case ((o, c), i) =>
        KeptEv(o * 1000000L, i.toLong, c)
      }
      val oneShot = StreamOps.rowsFold(1L, evs.toArray,
        scala.collection.mutable.ArrayBuffer.empty[KeptEv], n).toSet
      // brute force: position in the (ts, event_id) total order, frame =
      // the previous min(pos, n-1) rows plus the row itself
      val ordered = evs.sortBy(k => (k.ts_us, k.event_id))
      val brute = ordered.zipWithIndex.map { case (e, pos) =>
        val frame = ordered.slice(math.max(0, pos - n + 1), pos + 1)
        OverRows(1L, e.event_id, frame.size.toLong, frame.map(_.cents).sum / 100.0)
      }.toSet
      // incremental: timestamp groups through a shared window buffer, two
      // groups per call — the processor's timer-chunked pattern
      val win = scala.collection.mutable.ArrayBuffer.empty[KeptEv]
      val chunked = ordered.groupBy(_.ts_us).toSeq.sortBy(_._1).map(_._2)
        .grouped(2)
        .flatMap(ch => StreamOps.rowsFold(1L, ch.flatten.toArray, win, n))
        .toSet
      oneShot == brute && chunked == brute
    }

  property("continuous Top-N batch fold equals the rank-over-sums reimplementation") =
    forAll(eventsGen) { rows =>
      val sp = spark
      import sp.implicits._
      val types = Vector("purchase", "click")
      val evs = rows.zipWithIndex.map { case ((u, o, c), i) =>
        graft.streaming.Ev(i.toLong, new Timestamp(base + o * 1000), u,
          types(i % 2), c / 100.0)
      }
      val got = graft.streaming.StreamOps.topNByType(evs.toDS(), k = 3, streaming = false)
        .collect().map(r => (r.event_type, r.rnk, r.user_id,
          math.round(r.total * 100))).toSet
      val want = evs.groupBy(_.event_type).flatMap { case (typ, es) =>
        es.groupBy(_.user_id).view
          .mapValues(_.map(e => math.round(e.value * 100)).sum).toSeq
          .sortBy { case (u, cents) => (-cents, u) }.take(3).zipWithIndex
          .map { case ((u, cents), i) => (typ, i + 1L, u, cents) }
      }.toSet
      got == want
    }

  property("winnowing guarantee: a shared w+k-1 token run implies a shared fingerprint") =
    forAll(Gen.listOfN(7, winTokGen), Gen.listOf(winTokGen), Gen.listOf(winTokGen),
      Gen.listOf(winTokGen), Gen.listOf(winTokGen)) { (run, a1, a2, b1, b2) =>
      // k=4, w=4: any shared run of w+k-1=7 consecutive tokens spans one
      // FULL gram window whose contents are identical in both docs, so
      // its minimum is selected by both (Schleimer et al. 2003, §2)
      val sp = spark
      import sp.implicits._
      val out = Dedup.winnowFingerprintStats(
        Seq((1L, (a1 ++ run ++ a2).mkString(" ")),
          (2L, (b1 ++ run ++ b2).mkString(" "))).toDF("doc_id", "text"),
        "doc_id", "text", 4, 4)
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      out.values.forall { r =>
        val wins = math.max(r.getAs[Long]("n_grams") - 3, 1L)
        r.getAs[Long]("n_shared_fp") >= 1 &&
          r.getAs[Long]("n_fp") >= 1 && r.getAs[Long]("n_fp") <= wins
      }
    }

  property("max-shared-run extension equals the brute-force maximal runs") =
    forAll(Gen.choose(7, 12).flatMap(n => Gen.listOfN(n, winTokGen)),
      Gen.listOf(winTokGen), Gen.listOf(winTokGen),
      Gen.listOf(winTokGen), Gen.listOf(winTokGen)) { (run, a1, a2, b1, b2) =>
      // the guarantee EXTENDED to run lengths (VERDICT r10 item 6): the
      // anchored diagonal extension must report, per document, exactly
      // the brute-force longest >= w+k-1 = 7 token run shared with any
      // other document, and the distinct partner count — including runs
      // the random affixes create by collision, not just the planted one
      val sp = spark
      import sp.implicits._
      val docs = Seq(
        1L -> (a1 ++ run ++ a2).toVector,
        2L -> (b1 ++ run ++ b2).toVector,
        3L -> b1.toVector.take(9)) // usually run-free third doc
      val got = Dedup.maxSharedRunStats(
        docs.map { case (id, ts) => (id, ts.mkString(" ")) }
          .toDF("doc_id", "text"), "doc_id", "text", 4, 4)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("max_run"), r.getAs[Long]("n_partners")))).toMap
      // brute force: every maximal common run over every ordered pair.
      // Token splitting collapses an empty doc to one empty token — the
      // same convention split(text, ' ') applies engine-side.
      val toks = docs.map { case (id, ts) =>
        id -> (if (ts.isEmpty) Vector("") else ts) }
      val runs = for {
        (ida, ta) <- toks; (idb, tb) <- toks if ida < idb
        ia <- ta.indices; ib <- tb.indices
        if ta(ia) == tb(ib) &&
          (ia == 0 || ib == 0 || ta(ia - 1) != tb(ib - 1))
      } yield {
        var l = 0
        while (ia + l < ta.size && ib + l < tb.size && ta(ia + l) == tb(ib + l)) l += 1
        (ida, idb, l.toLong)
      }
      val qual = runs.filter(_._3 >= 7)
      val want = toks.map { case (id, _) =>
        val mine = qual.collect {
          case (a, b, l) if a == id => (b, l)
          case (a, b, l) if b == id => (a, l)
        }
        id -> ((if (mine.isEmpty) 0L else mine.map(_._2).max,
          mine.map(_._1).distinct.size.toLong))
      }.toMap
      got == want
    }

  /** Short strings over a 3-letter alphabet — dense edit-distance-1
    * neighborhoods, including empty strings and repeated characters
    * (the deletion-variant edge cases). */
  private val fuzzyDocsGen: Gen[List[String]] = Gen.listOfN(24,
    Gen.choose(0, 5).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))

  /** Reference Levenshtein DP for the fuzzy-join ground truths. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  property("fuzzy edit join equals brute-force levenshtein<=1 on random strings") =
    forAll(fuzzyDocsGen) { strs =>
      val sp = spark
      import sp.implicits._
      val docs = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val df = docs.toDF("id", "s")
      val got = graft.api.Joins.fuzzyEditJoin(df, "id", "s")
        .as[(Long, Long, Int)].collect().toSet
      val want = (for {
        (ia, sa) <- docs; (ib, sb) <- docs
        if ia < ib && lev(sa, sb) <= 1
      } yield (ia, ib, lev(sa, sb))).toSet
      got == want
    }

  property("fuzzy edit join (d=2) equals brute-force levenshtein<=2 on random strings") =
    forAll(fuzzyDocsGen) { strs =>
      val sp = spark
      import sp.implicits._
      val docs = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val df = docs.toDF("id", "s")
      val got = graft.api.Joins.fuzzyEditJoin(df, "id", "s", maxDist = 2)
        .as[(Long, Long, Int)].collect().toSet
      val want = (for {
        (ia, sa) <- docs; (ib, sb) <- docs
        if ia < ib && lev(sa, sb) <= 2
      } yield (ia, ib, lev(sa, sb))).toSet
      got == want
    }

  property("fuzzy A-vs-B join equals brute-force cross-side levenshtein<=1") =
    forAll(fuzzyDocsGen) { strs =>
      val sp = spark
      import sp.implicits._
      val docs = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val (l, r) = docs.partition(_._1 % 2 == 0)
      val got = graft.api.Joins.fuzzyEditJoinAB(
          l.toDF("id", "s"), "id", "s", r.toDF("id", "s"), "id", "s")
        .as[(Long, Long, Int)].collect().toSet
      val want = (for {
        (ia, sa) <- l; (ib, sb) <- r
        if lev(sa, sb) <= 1
      } yield (ia, ib, lev(sa, sb))).toSet
      got == want
    }

  /** Random (id, weight) rows — sparse ids (the md5 uniform must not
    * depend on density), weights spanning four orders of magnitude. */
  private val weightedGen: Gen[List[(Long, Long)]] = Gen.nonEmptyListOf(for {
    id <- Gen.choose(1L, 1000000L)
    w <- Gen.choose(1L, 10000L)
  } yield (id, w)).map(_.distinctBy(_._1))

  property("weighted sample top-k equals the local A-ES replay on random weights") =
    forAll(weightedGen) { rows =>
      val sp = spark
      import sp.implicits._
      def key(id: Long, w: Long): Double = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) /
          1.152921504606846976e18
        math.floor(math.pow(u, 1.0 / w) * 1e8 + 0.5) / 1e8
      }
      val k = 1 + rows.size / 3
      val got = graft.api.Sampling.weightedSample(
          rows.toDF("id", "w"), "id", col("w"), k)
        .as[(Long, Long, Double)].collect().toSeq
        .sortBy { case (id, _, p) => (-p, id) }
      val want = rows.map { case (id, w) => (id, w, key(id, w)) }
        .sortBy { case (id, _, p) => (-p, id) }.take(k)
      got == want
    }

  /** The A-ES priority replayed locally (shared by the weighted-sample
    * properties). */
  private def aesKey(id: Long, w: Long): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) /
      1.152921504606846976e18
    math.floor(math.pow(u, 1.0 / w) * 1e8 + 0.5) / 1e8
  }

  /** Random (stratum, id, weight) rows over a 3-letter stratum space. */
  private val stratWeightedGen: Gen[List[(String, Long, Long)]] =
    Gen.nonEmptyListOf(for {
      s <- Gen.oneOf("x", "y", "z")
      id <- Gen.choose(1L, 1000000L)
      w <- Gen.choose(1L, 10000L)
    } yield (s, id, w)).map(_.distinctBy(_._2))

  property("stratified weighted sample equals the per-stratum local A-ES replay") =
    forAll(stratWeightedGen) { rows =>
      val sp = spark
      import sp.implicits._
      val k = 1 + rows.size / 4
      val got = graft.api.Sampling.weightedStratified(
          rows.toDF("s", "id", "w"), "id", Seq("s"), col("w"), k)
        .as[(String, Int, Long, Long, Double)].collect().toSet
      val want = rows.groupBy(_._1).flatMap { case (s, rs) =>
        rs.map { case (_, id, w) => (id, w, aesKey(id, w)) }
          .sortBy { case (id, _, p) => (-p, id) }.take(k)
          .zipWithIndex
          .map { case ((id, w, p), i) => (s, i + 1, id, w, p) }
      }.toSet
      got == want
    }

  /** Inclusion monotonicity — the property that makes the A-ES key a
    * WEIGHTED sample: raising one sampled row's weight (all else fixed)
    * never pushes it out of its stratum's sample, because
    * u^(1/w) is increasing in w for u in (0,1) and every other row's
    * priority is unchanged. */
  property("stratified weighted sample inclusion is monotone in weight") =
    forAll(stratWeightedGen) { rows =>
      val sp = spark
      import sp.implicits._
      val k = 1 + rows.size / 4
      def draw(rs: List[(String, Long, Long)]): Set[(String, Long)] =
        graft.api.Sampling.weightedStratified(
            rs.toDF("s", "id", "w"), "id", Seq("s"), col("w"), k)
          .select(col("s"), col("id"))
          .as[(String, Long)].collect().toSet
      val base = draw(rows)
      val bumped = rows.map { case (s, id, w) =>
        if (base((s, id))) (s, id, w * 16) else (s, id, w) }
      base.subsetOf(draw(bumped))
    }

  /** Random sparse digraphs for the k-core peel. */
  private val kcoreEdgesGen: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(for {
      s <- Gen.choose(0L, 13L)
      t <- Gen.choose(0L, 13L)
    } yield (s, t))

  /** The distributed frontier-delta peel must equal the scalar
    * synchronous peel — layer by layer, on arbitrary graphs (self
    * loops and duplicate/reverse edges must not perturb degrees). */
  property("kcore onion equals the scalar synchronous peel on random graphs") =
    forAll(kcoreEdgesGen, Gen.choose(1, 4)) { (edges, k) =>
      val sp = spark
      import sp.implicits._
      val sym = edges.flatMap { case (s, t) => Seq((s, t), (t, s)) }
        .filter { case (s, t) => s != t }.distinct
      if (sym.isEmpty) true
      else {
        // scalar synchronous peel
        var alive = sym.map(_._1).toSet
        var layer = Map.empty[Long, Int]
        var r = 0
        var changed = true
        while (changed) {
          r += 1
          val deg = sym.filter { case (s, t) => alive(s) && alive(t) }
            .groupBy(_._1).view.mapValues(_.size).toMap
          val drop = alive.filter(v => deg.getOrElse(v, 0) < k)
          changed = drop.nonEmpty
          layer ++= drop.map(_ -> r)
          alive --= drop
        }
        val want = layer ++ alive.map(_ -> 0)
        val (onion, round) = graft.api.Graphs.kcoreWithRound(
          edges.toDF("s", "t"), "s", "t", k = k, blockSize = 3)
        val got = onion.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
        val maxLayer = if (layer.isEmpty) 0 else layer.values.max
        got == want && round == maxLayer
      }
    }
}
