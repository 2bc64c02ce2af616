package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.operators.{Dedup, EventAnalytics, Multimodal, Sampling, Similarity}

/** Brute-force differentials for the round-11 operators: for ANY
  * random input, containment pairs, debounce bursts, and SCD2
  * intervals equal plain-Scala restatements of their definitions —
  * the same harness that caught real bugs in the corpus-quality and
  * engagement families before commit. */
object Round11Props extends Properties("Round11Ops") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.plans.GraftExtensions)
    .getOrCreate()

  // ---- containmentPairs ≡ brute hash-space containment ------------- //

  private val docGen = for {
    nDocs <- Gen.choose(2, 12)
    docs <- Gen.listOfN(nDocs, Gen.listOfN(
      12, Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.mkString(" ")))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("containmentPairs equals the brute-force df-capped definition") =
    Prop.forAll(docGen) { docs =>
      import spark.implicits._
      val (n, thr, maxDf) = (3, 0.5, 4)
      val got = Dedup.containmentPairs(
          docs.toDF("doc_id", "text"), col("doc_id"), col("text"),
          shingleN = n, threshold = thr, maxDf = maxDf)
        .select("id_a", "id_b", "n_common")
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap

      // brute: distinct shingle HASH set per doc (the operator's
      // counting unit), df cut, ordered-pair intersection / |kept(A)|
      def ph(s: String): Long = {
        var h = 0L
        s.foreach(c => h = (h * 31 + c.toLong) % 1000000007L)
        h
      }
      val sets = docs.map { case (id, t) =>
        id -> t.split(" ").sliding(n).filter(_.length == n)
          .map(g => ph(g.mkString(" "))).toSet
      }.toMap
      val df = sets.values.flatten.groupBy(identity).view.mapValues(_.size)
      val kept = sets.view.mapValues(_.filter(h => df(h) <= maxDf)).toMap
      val want = (for {
        (a, sa) <- kept.toSeq; (b, sb) <- kept.toSeq
        if a != b && sa.nonEmpty
        common = (sa intersect sb).size.toLong
        if common.toDouble / sa.size >= thr
      } yield (a, b) -> common).toMap
      (got == want: Prop) :| s"got=$got want=$want"
    }

  // ---- editDistancePairs ≡ all-pairs levenshtein (losslessness) ---- //

  private val strGen = for {
    n <- Gen.choose(2, 15)
    ss <- Gen.listOfN(n, Gen.choose(0, 6).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
  } yield ss.zipWithIndex.map { case (s, i) => (i.toLong, s) }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  property("editDistancePairs finds EXACTLY the all-pairs levenshtein matches") =
    // lengths 0-6 include strings shorter than maxDist and "" itself
    Prop.forAll(strGen, Gen.oneOf(1, 2)) { (rows, k) =>
      import spark.implicits._
      val got = Dedup.editDistancePairs(
          rows.toDF("id", "s"), col("id"), col("s"), maxDist = k)
        .as[(Long, Long, Long)].collect().toSet
      val want = (for {
        (a, sa) <- rows; (b, sb) <- rows if a < b
        d = lev(sa, sb) if d <= k
      } yield (a, b, d.toLong)).toSet
      (got == want: Prop) :| s"k=$k got=$got want=$want"
    }

  // ---- debounce ≡ brute trailing-gap chains ------------------------ //

  private val evGen = for {
    n <- Gen.choose(1, 60)
    evs <- Gen.listOfN(n, for {
      k <- Gen.choose(1L, 3L)
      t <- Gen.oneOf("x", "y")
      ts <- Gen.choose(0L, 200L)
    } yield (k, t, ts))
  } yield evs.zipWithIndex.map { case ((k, t, ts), i) => (k, i.toLong, t, ts) }

  property("debounce equals the brute-force chain definition") =
    Prop.forAll(evGen) { evs =>
      import spark.implicits._
      val eps = 10L
      val got = EventAnalytics.debounce(
          evs.toDF("user_id", "event_id", "event_type", "ts_us"),
          "user_id", "ts_us", "event_type", "event_id", eps)
        .as[(Long, String, Long, Long, Long)].collect().toSet

      val want = evs.groupBy(e => (e._1, e._3)).flatMap { case ((k, t), es) =>
        val ts = es.sortBy(e => (e._4, e._2)).map(_._4)
        val bursts = ts.foldLeft(List.empty[List[Long]]) {
          case (Nil, x) => List(List(x))
          case (h :: rest, x) if x - h.head <= eps => (x :: h) :: rest
          case (acc, x) => List(x) :: acc
        }
        bursts.map(b => (k, t, b.last, b.head, b.size.toLong))
      }.toSet
      (got == want: Prop) :| s"got=$got want=$want"
    }

  // ---- scd2Intervals ≡ brute run compression ----------------------- //

  private val attrGen = for {
    n <- Gen.choose(1, 40)
    evs <- Gen.listOfN(n, for {
      k <- Gen.choose(1L, 3L)
      a <- Gen.oneOf(Some("p"), Some("q"), None)
    } yield (k, a))
  } yield evs.zipWithIndex.map { case ((k, a), i) =>
    (k, i.toLong, a, i.toLong * 10) }  // strictly increasing ts per input

  property("scd2Intervals equals brute run compression; chain law holds") =
    Prop.forAll(attrGen) { evs =>
      import spark.implicits._
      val got = EventAnalytics.scd2Intervals(
          evs.toDF("user_id", "event_id", "event_type", "ts_us"),
          "user_id", "ts_us", "event_type", "event_id")
        .as[(Long, Option[String], Long, Option[Long], Long)]
        .collect().toSet

      val want = evs.groupBy(_._1).flatMap { case (k, es) =>
        val sorted = es.sortBy(e => (e._4, e._2))
        val runs = sorted.foldLeft(List.empty[(Option[String], Long, Long)]) {
          case (h :: rest, e) if h._1 == e._3 => (h._1, h._2, h._3 + 1) :: rest
          case (acc, e) => (e._3, e._4, 1L) :: acc
        }.reverse
        runs.zip(runs.drop(1).map(r => Some(r._2)) :+ None).map {
          case ((a, from, cnt), to) => (k, a, from, to, cnt) }
      }.toSet
      (got == want: Prop) :| s"got=$got want=$want"
    }

  // ---- positionAttribution ≡ brute 40/20/40 ------------------------ //

  private val attribGen = for {
    n <- Gen.choose(1, 50)
    evs <- Gen.listOfN(n, for {
      k <- Gen.choose(1L, 4L)
      t <- Gen.oneOf("A", "B", "P")
      ts <- Gen.choose(0L, 30L)        // collisions exercise the tie law
      v <- Gen.choose(0, 50).map(_.toDouble)
    } yield (k, t, ts, v))
  } yield evs.zipWithIndex.map { case ((k, t, ts, v), i) =>
    (k, i.toLong, t, ts, v) }

  property("positionAttribution equals the brute 40/20/40 with path reset") =
    Prop.forAll(attribGen) { evs =>
      import spark.implicits._
      val got = EventAnalytics.positionAttribution(
          evs.toDF("user_id", "event_id", "event_type", "ts_us", "value"),
          "user_id", "ts_us", "event_type", conversionType = "P",
          valueCol = "value", tie = "event_id")
        .as[(String, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap

      val acc = scala.collection.mutable.Map.empty[String, (Double, Double)]
      def add(ch: String, c: Double, rev: Double): Unit = {
        val (c0, r0) = acc.getOrElse(ch, (0.0, 0.0))
        acc(ch) = (c0 + c, r0 + rev)
      }
      evs.groupBy(_._1).foreach { case (_, es) =>
        // order by (ts, side, id); split into paths ENDING at each P
        val sorted = es.sortBy(e => (e._4, if (e._3 == "P") 1 else 0, e._2))
        var path = List.empty[(String, Double)] // (channel, —) in order
        sorted.foreach { e =>
          if (e._3 == "P") {
            val n = path.length
            if (n == 0) add("(none)", 1.0, e._5)
            else path.reverse.zipWithIndex.foreach { case ((ch, _), p) =>
              val c =
                if (n == 1) 1.0 else if (n == 2) 0.5
                else if (p == 0 || p == n - 1) 0.4
                else 0.2 / (n - 2)
              add(ch, c, c * e._5)
            }
            path = Nil
          } else path = (e._3, e._5) :: path
        }
      }
      val ok = got.keySet == acc.keySet && got.forall { case (ch, (c, r)) =>
        math.abs(c - acc(ch)._1) < 2e-6 && math.abs(r - acc(ch)._2) < 2e-2
      }
      (ok: Prop) :| s"got=$got want=$acc"
    }

  // ---- timeDecayAttribution ≡ brute dyadic decay ------------------- //

  property("timeDecayAttribution equals the brute dyadic half-life rule") =
    Prop.forAll(attribGen) { evs =>
      import spark.implicits._
      val hl = 5L
      val got = EventAnalytics.timeDecayAttribution(
          evs.toDF("user_id", "event_id", "event_type", "ts_us", "value"),
          "user_id", "ts_us", "event_type", conversionType = "P",
          valueCol = "value", tie = "event_id", halfLifeUs = hl)
        .as[(String, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap

      val acc = scala.collection.mutable.Map.empty[String, (Double, Double)]
      def add(ch: String, c: Double, rev: Double): Unit = {
        val (c0, r0) = acc.getOrElse(ch, (0.0, 0.0))
        acc(ch) = (c0 + c, r0 + rev)
      }
      evs.groupBy(_._1).foreach { case (_, es) =>
        val sorted = es.sortBy(e => (e._4, if (e._3 == "P") 1 else 0, e._2))
        var path = List.empty[(String, Long)] // (channel, ts)
        sorted.foreach { e =>
          if (e._3 == "P") {
            if (path.isEmpty) add("(none)", 1.0, e._5)
            else {
              val ws = path.map { case (ch, t) =>
                ch -> (1L << (40 - math.min((e._4 - t) / hl, 40L)).toInt) }
              val total = ws.map(_._2).sum.toDouble
              ws.foreach { case (ch, w) =>
                val c = w.toDouble / total
                add(ch, c, c * e._5)
              }
            }
            path = Nil
          } else path = (e._3, e._4) :: path
        }
      }
      val ok = got.keySet == acc.keySet && got.forall { case (ch, (c, r)) =>
        math.abs(c - acc(ch)._1) < 2e-6 && math.abs(r - acc(ch)._2) < 2e-2
      }
      (ok: Prop) :| s"got=$got want=$acc"
    }

  // ---- twoSampleKs ≡ brute exact-CDF scan -------------------------- //

  private val ksGen = for {
    n <- Gen.choose(2, 60)
    xs <- Gen.listOfN(n, for {
      g <- Gen.choose(0L, 1L)
      v <- Gen.choose(0, 80).map(_ / 4.0)   // collisions + both groups
    } yield (g, v))
  } yield xs

  property("twoSampleKs equals the brute integer-CDF max (tie → smallest tick)") =
    Prop.forAll(ksGen) { xs =>
      import spark.implicits._
      val got = EventAnalytics.twoSampleKs(
          xs.toDF("g", "v"), col("g"), col("v"))
        .as[(Long, Long, Double, Long, Option[Double], Option[Double])]
        .collect().toSeq

      val ticks = xs.map { case (g, v) =>
        (g, math.floor(v * 100 + 0.5).toLong) }
      val n0 = ticks.count(_._1 == 0L).toLong
      val n1 = ticks.count(_._1 == 1L).toLong
      val grid = ticks.map(_._2).distinct.sorted
      val want = grid.map { x =>
        val c0 = ticks.count(t => t._1 == 0L && t._2 <= x).toLong
        val c1 = ticks.count(t => t._1 == 1L && t._2 <= x).toLong
        (math.abs(c0 * n1 - c1 * n0), x)
      }.maxBy { case (num, x) => (num, -x) }
      val ok = got.length == 1 && {
        val (gn0, gn1, gnum, gx, gks, _) = got.head
        gn0 == n0 && gn1 == n1 && gnum == want._1.toDouble && gx == want._2 &&
          (if (n0 == 0 || n1 == 0) gks.isEmpty
           else math.abs(gks.get - want._1.toDouble / (n0 * n1)) < 2e-6)
      }
      (ok: Prop) :| s"got=$got want=$want n0=$n0 n1=$n1"
    }

  // ---- mannWhitneyU ≡ brute pair counting -------------------------- //

  property("mannWhitneyU equals brute pair counting (wins + half-ties)") =
    Prop.forAll(ksGen) { xs =>
      import spark.implicits._
      val got = EventAnalytics.mannWhitneyU(
          xs.toDF("g", "v"), col("g"), col("v"))
        .as[(Long, Long, Double, Option[Double], Option[Double])]
        .collect().toSeq

      val ticks = xs.map { case (g, v) =>
        (g, math.floor(v * 100 + 0.5).toLong) }
      val g0 = ticks.filter(_._1 == 0L).map(_._2)
      val g1 = ticks.filter(_._1 == 1L).map(_._2)
      // U0 in halves, exactly: 2·U0 = 2·wins + ties
      val u0x2 = (for (a <- g0; b <- g1) yield
        if (a > b) 2L else if (a == b) 1L else 0L).sum
      val ok = got.length == 1 && {
        val (n0, n1, u0, auc, _) = got.head
        n0 == g0.length.toLong && n1 == g1.length.toLong &&
          u0 == u0x2.toDouble / 2 &&
          (if (g0.isEmpty || g1.isEmpty) auc.isEmpty
           else math.abs(auc.get - u0x2.toDouble / 2 / (g0.length.toLong * g1.length)) < 2e-6)
      }
      (ok: Prop) :| s"got=$got u0x2=$u0x2 n0=${g0.length} n1=${g1.length}"
    }

  // ---- chiSquareIndependence ≡ brute contingency ------------------- //

  private val chiGen = for {
    n <- Gen.choose(2, 60)
    xs <- Gen.listOfN(n, for {
      g <- Gen.choose(0L, 1L)
      k <- Gen.oneOf("A", "B", "C")
    } yield (g, k))
  } yield xs

  property("chiSquareIndependence equals the brute contingency formula") =
    Prop.forAll(chiGen) { xs =>
      import spark.implicits._
      val got = EventAnalytics.chiSquareIndependence(
          xs.toDF("g", "k"), col("g"), col("k"))
        .as[(Long, Long, Option[Double], Option[Double])].collect().toSeq

      val n0 = xs.count(_._1 == 0L).toLong
      val n1 = xs.count(_._1 == 1L).toLong
      val n = n0 + n1
      val cats = xs.map(_._2).distinct
      val chi2 =
        if (n0 == 0 || n1 == 0) None
        else Some(cats.map { k =>
          val o0 = xs.count(x => x._1 == 0L && x._2 == k).toDouble
          val o1 = xs.count(x => x._1 == 1L && x._2 == k).toDouble
          val rt = o0 + o1
          val e0 = rt * n0 / n; val e1 = rt * n1 / n
          (o0 - e0) * (o0 - e0) / e0 + (o1 - e1) * (o1 - e1) / e1
        }.sum)
      val ok = got.length == 1 && {
        val (gn, gdof, gchi, gv) = got.head
        gn == n && gdof == cats.length.toLong - 1 &&
          (chi2 match {
            case None => gchi.isEmpty && gv.isEmpty
            case Some(c) =>
              math.abs(gchi.get - c) < 2e-6 &&
                math.abs(gv.get - math.sqrt(c / n)) < 2e-6
          })
      }
      (ok: Prop) :| s"got=$got want=$chi2"
    }

  // ---- cusumChangepoint ≡ brute prefix argmax ---------------------- //

  private val cpGen = for {
    n <- Gen.choose(1, 50)
    xs <- Gen.listOfN(n, for {
      d <- Gen.choose(0L, 8L)
      v <- Gen.choose(0, 40).map(_ / 4.0)
    } yield (d, v))
  } yield xs

  property("cusumChangepoint equals the brute integer prefix-deviation argmax") =
    Prop.forAll(cpGen) { xs =>
      import spark.implicits._
      val D = 86400000000L
      val got = EventAnalytics.cusumChangepoint(
          xs.map { case (d, v) => (d * D + 7, v) }.toDF("ts_us", "value"),
          "ts_us", "value", epoch0Us = 0L, dayUs = D)
        .as[(Long, Long, Long, Double, Double, Option[Double])]
        .collect().toSeq

      val cents = xs.map { case (d, v) =>
        (d, math.floor(v * 100 + 0.5).toLong) }
      val byDay = cents.groupBy(_._1).map { case (d, vs) =>
        (d, vs.length.toLong, vs.map(_._2).sum) }.toSeq.sortBy(_._1)
      val cn = byDay.map(_._2).sum; val sn = byDay.map(_._3).sum
      val prefixes = byDay.scanLeft((0L, 0L, 0L)) {
        case ((_, ck, sk), (d, c, s)) => (d, ck + c, sk + s) }.tail
      val (dStar, ckS, skS) = prefixes
        .maxBy { case (d, ck, sk) =>
          ((BigInt(sk) * cn - BigInt(sn) * ck).abs, -d) }
      val num = (BigInt(skS) * cn - BigInt(sn) * ckS).abs
      val ok = got.length == 1 && {
        val (nd, n, ds, dev, mb, ma) = got.head
        nd == byDay.length.toLong && n == cn && ds == dStar &&
          math.abs(dev - num.toDouble / (cn * 100.0)) < 2e-6 &&
          math.abs(mb - skS.toDouble / (ckS * 100.0)) < 2e-6 &&
          (if (cn == ckS) ma.isEmpty
           else math.abs(ma.get - (sn - skS).toDouble / ((cn - ckS) * 100.0)) < 2e-6)
      }
      (ok: Prop) :| s"got=$got want=(d=$dStar num=$num cn=$cn)"
    }

  // ---- frameDupStats ≡ brute digest census ------------------------- //

  private val frameGen = for {
    n <- Gen.choose(1, 8)
    docs <- Gen.listOfN(n, Gen.listOfN(3,
      Gen.oneOf("AAAA", "BBBB", "CCCC", "DDDD")).map(_.mkString))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("frameDupStats equals the brute frame-digest census") =
    Prop.forAll(frameGen) { docs =>
      import spark.implicits._
      val frames = Multimodal.frameSample(
        Multimodal.withPayload(docs.toDF("doc_id", "text"), "text"),
        frameBytes = 4, everyN = 1)
      val got = Multimodal.frameDupStats(frames)
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap

      // brute: 4-char frames; a frame is shared iff its CONTENT occurs
      // in more than one distinct doc
      val cut = docs.map { case (id, t) => id -> t.grouped(4).toSeq }
      val docsPerFrame = cut.flatMap { case (id, fs) => fs.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      val want = cut.map { case (id, fs) =>
        id -> (fs.size.toLong, fs.count(f => docsPerFrame(f) > 1).toLong)
      }.toMap
      (got == want: Prop) :| s"got=$got want=$want"
    }

  // ---- labelNdcg ≡ brute DCG over a tie-free ranking ---------------- //

  private val ndcgGen = for {
    n <- Gen.choose(1, 8)
    labels <- Gen.listOfN(n + 1, Gen.choose(0, 2))
  } yield labels   // index 0 = the query's label

  property("labelNdcg equals brute DCG/IDCG on a constructed tie-free ranking") =
    Prop.forAll(ndcgGen) { labels =>
      import spark.implicits._
      val qLabel = labels.head
      val cand = labels.tail.zipWithIndex.map { case (l, i) =>
        // cosine against (1,0) strictly decreases with i → rank = i+1
        (i.toLong + 100, Seq(1.0f, 0.1f * (i + 1)), l)
      }
      val queries = Seq((1L, Seq(1.0f, 0.0f))).toDF("q_id", "q_vec")
      val corpus = cand.map(c => (c._1, c._2)).toDF("c_id", "c_vec")
      val lab = ((1L, qLabel) +: cand.map(c => (c._1, c._3)))
        .toDF("vec_id", "label")
      val k = cand.length
      val got = Similarity.labelNdcg(queries, corpus, lab, k)
        .as[(Long, Long, Long, Double, Option[Double])].collect().head

      def lg2(x: Double) = math.log(x) / math.log(2.0)
      val rels = cand.zipWithIndex.map { case (c, i) =>
        (i + 1, if (c._3 == qLabel) 1 else 0) }
      val nrel = rels.map(_._2).sum
      val dcg = rels.map { case (rk, rel) => rel / lg2(rk + 1.0) }.sum
      val idcg = (1 to nrel).map(i => 1.0 / lg2(i + 1.0)).sum
      val ok = got._1 == 1L && got._2 == k.toLong && got._3 == nrel.toLong &&
        math.abs(got._4 - dcg) < 2e-6 &&
        (if (nrel == 0) got._5.isEmpty
         else math.abs(got._5.get - dcg / idcg) < 2e-6)
      (ok: Prop) :| s"got=$got dcg=$dcg idcg=$idcg nrel=$nrel"
    }

  // ---- temperatureShares laws --------------------------------------- //

  private val shareGen = for {
    k <- Gen.choose(1, 6)
    ns <- Gen.listOfN(k, Gen.choose(1, 200))
  } yield ns.zipWithIndex.map { case (n, i) => (s"s$i", n) }

  property("temperatureShares: shares sum to 1; α=1 is natural; brute n^α ratios") =
    Prop.forAll(shareGen) { strata =>
      import spark.implicits._
      val rows = strata.flatMap { case (s, n) => Seq.fill(n)(s) }.toDF("src")
      val half = Sampling.temperatureShares(rows, col("src"), 0.5, 100L)
        .as[(String, Long, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val wsum = strata.map { case (_, n) => math.sqrt(n.toDouble) }.sum
      val natural = Sampling.temperatureShares(rows, col("src"), 1.0, 100L)
        .as[(String, Long, Double, Double)].collect()
      val total = strata.map(_._2).sum.toDouble
      val ok =
        math.abs(half.values.map(_._2).sum - 1.0) < 1e-5 &&
          strata.forall { case (s, n) =>
            half(s)._1 == n.toLong &&
              math.abs(half(s)._2 - math.sqrt(n.toDouble) / wsum) < 2e-6 } &&
          natural.forall(r => math.abs(r._3 - r._2 / total) < 2e-6)
      (ok: Prop) :| s"half=$half wsum=$wsum"
    }

  // ---- intervalIslands ≡ brute merge (all-integer, exact) ---------- //

  private val ivGen = for {
    n <- Gen.choose(1, 40)
    ivs <- Gen.listOfN(n, for {
      k <- Gen.choose(1L, 3L)
      s <- Gen.choose(0L, 60L)
      w <- Gen.choose(0L, 15L)
    } yield (k, s, s + w))
  } yield ivs

  property("intervalIslands equals the brute sweep merge") =
    Prop.forAll(ivGen) { ivs =>
      import spark.implicits._
      val got = EventAnalytics.intervalIslands(
          ivs.toDF("k", "s", "e"), "k", "s", "e")
        .as[(Long, Long, Long, Long)].collect().toSet
      val want = ivs.groupBy(_._1).flatMap { case (k, xs) =>
        xs.sortBy(x => (x._2, x._3))
          .foldLeft(List.empty[(Long, Long, Long)]) {
            case ((s0, e0, n) :: rest, (_, s, e)) if s <= e0 =>
              (s0, math.max(e0, e), n + 1) :: rest
            case (acc, (_, s, e)) => (s, e, 1L) :: acc
          }.map { case (s, e, n) => (k, s, e, n) }
      }.toSet
      (got == want: Prop) :| s"got=$got want=$want"
    }

  // ---- tokenEntropy ≡ brute −Σ p·log₂p ----------------------------- //

  private val entGen = for {
    nDocs <- Gen.choose(1, 8)
    docs <- Gen.listOfN(nDocs, Gen.choose(1, 20).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d"))))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }

  property("tokenEntropy equals brute -Σ p·log2 p (tolerance: op-sequence)") =
    Prop.forAll(entGen) { docs =>
      import spark.implicits._
      val got = graft.operators.TextAnalysis.tokenEntropy(
          docs.toDF("doc_id", "text"), col("doc_id"), col("text"))
        .select("id", "n_tokens", "n_distinct", "entropy", "norm_entropy")
        .as[(Long, Long, Long, Double, Option[Double])].collect()
        .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
      val lg2 = math.log(2.0)
      val want = docs.map { case (id, t) =>
        val toks = t.split(" ", -1)
        val counts = toks.groupBy(identity).values.map(_.size).toSeq
        val n = toks.length
        val h = -counts.map(c =>
          c.toDouble / n * (math.log(c.toDouble / n) / lg2)).sum
        val norm = if (counts.size > 1)
          Some(h / (math.log(counts.size.toDouble) / lg2)) else None
        id -> (n.toLong, counts.size.toLong, h, norm)
      }.toMap
      val ok = got.keySet == want.keySet && got.forall { case (id, g) =>
        val w = want(id)
        g._1 == w._1 && g._2 == w._2 && math.abs(g._3 - w._3) < 1e-9 &&
          ((g._4, w._4) match {
            case (Some(a), Some(b)) => math.abs(a - b) < 1e-9
            case (None, None) => true
            case _ => false
          })
      }
      (ok: Prop) :| s"got=$got want=$want"
    }

  // ---- seasonalityProfile ≡ brute contingency residuals ------------ //

  private val seaGen = for {
    n <- Gen.choose(1, 80)
    pts <- Gen.listOfN(n, for {
      day <- Gen.choose(-10L, 20L)   // pre-epoch days included: the
                                     // floor-div/pmod law must hold
      hour <- Gen.choose(0L, 23L)
      off <- Gen.choose(0L, 3599999999L)
    } yield day * 86400000000L + hour * 3600000000L + off)
  } yield pts

  property("seasonalityProfile equals the brute margins-product residuals") =
    Prop.forAll(seaGen) { pts =>
      import spark.implicits._
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      val got = EventAnalytics.seasonalityProfile(
          pts.toDF("ts_us"), col("ts_us"))
        .as[(Long, Long, Long, Double, Double)].collect().toSet
      val cells = pts.map(t => (
          Math.floorMod(Math.floorDiv(t, 86400000000L) + 3, 7L),
          Math.floorMod(Math.floorDiv(t, 3600000000L), 24L)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val rt = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val ct = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
      val tot = cells.values.sum
      val want = cells.map { case ((dw, hr), n) =>
        val e = (rt(dw) * ct(hr)).toDouble / tot.toDouble
        (dw, hr, n, r6(e), r6((n.toDouble - e) / math.sqrt(e)))
      }.toSet
      (got == want: Prop) :| s"got=$got want=$want"
    }

  // ---- bootstrapUplift ≡ brute mixer replay ------------------------ //

  private val bootGen = for {
    n <- Gen.choose(2, 30)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(0L, 1000000L)
      v <- Gen.choose(0L, 1L)
      c <- Gen.choose(-500L, 500L)
    } yield (k, v, c))
  } yield rows.groupBy(_._1).map(_._2.head).toSeq // distinct keys

  property("bootstrapUplift equals the brute Poisson-replay definition") =
    Prop.forAll(bootGen) { rows =>
      import spark.implicits._
      val P = 1000000007L
      val R = 20
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      def ph(s: String) = s.foldLeft(0L)((a, c) => (a * 31 + c) % P)
      def wgt(h0: Long, r: Long) = {
        val x = Math.floorMod(h0 + r * 2654435761L, P)
        val y = Math.floorMod(x * x + r, P)
        val z = Math.floorMod(y * y + h0, P)
        if (z < 367879443L) 0L else if (z < 735758887L) 1L
        else if (z < 919698609L) 2L else if (z < 981011849L) 3L
        else if (z < 996340160L) 4L else 5L
      }
      val out = EventAnalytics.bootstrapUplift(
        rows.toDF("k", "v", "c"), col("k"), col("v"), col("c"),
        replicates = R, alphaPermille = 100).collect().head
      def mean(rep: Long, v: Long): Option[Double] = {
        val sel = rows.filter(_._2 == v)
        def wt(k: Long) = if (rep < 0) 1L else wgt(ph(k.toString), rep)
        val sw = sel.map(t => wt(t._1)).sum
        val swx = sel.map(t => wt(t._1) * t._3).sum
        if (sw > 0) Some(swx.toDouble / sw.toDouble / 100.0) else None
      }
      val ups = (0L until R.toLong).flatMap(rep =>
        for (mb <- mean(rep, 1); ma <- mean(rep, 0)) yield (mb - ma, rep))
        .sortBy(identity).map(_._1)
      def og[T](c: String): Option[T] =
        if (out.isNullAt(out.fieldIndex(c))) None
        else Some(out.getAs[T](c))
      val wantPt = for (mb <- mean(-1, 1); ma <- mean(-1, 0)) yield mb - ma
      val ptOk = og[Double]("uplift") == wantPt.map(r6) &&
        og[Double]("mean_a") == mean(-1, 0).map(r6) &&
        og[Double]("mean_b") == mean(-1, 1).map(r6)
      val ciOk = if (ups.isEmpty) og[Long]("n_reps").isEmpty else {
        val cnt = ups.size
        val lo = math.max(1, cnt * 100 / 1000)
        og[Long]("n_reps").contains(cnt.toLong) &&
          og[Double]("ci_lo").contains(r6(ups(lo - 1))) &&
          og[Double]("ci_hi").contains(r6(ups(cnt - lo))) &&
          og[Double]("neg_frac").contains(
            r6(ups.count(_ <= 0.0).toDouble / cnt))
      }
      ((ptOk && ciOk): Prop) :| s"out=$out ups=$ups wantPt=$wantPt"
    }

  // ---- sourceKeyness ≡ brute G² with integer direction ------------- //

  private val keyGen = for {
    nDocs <- Gen.choose(2, 10)
    docs <- Gen.listOfN(nDocs, for {
      src <- Gen.oneOf(Some("a"), Some("b"), None)
      toks <- Gen.choose(1, 15).flatMap(k =>
        Gen.listOfN(k, Gen.oneOf("x", "y", "z", "w")))
    } yield (src, toks.mkString(" ")))
  } yield docs.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }

  property("sourceKeyness equals the brute G2-ranked definition") =
    Prop.forAll(keyGen) { docs =>
      import spark.implicits._
      val (minC, topN) = (2L, 3)
      val got = graft.operators.TextAnalysis.sourceKeyness(
          docs.toDF("doc_id", "source", "text"),
          col("source"), col("text"), minCount = minC, topN = topN)
        .select("source", "token", "n", "llr", "rank")
        .as[(Option[String], String, Long, Double, Long)].collect().toSet
      def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
      val cells = docs.flatMap { case (_, s, t) =>
        t.split(" ", -1).map(w => (s, w)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cg = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val cw = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
      val nt = cells.values.sum
      def term(o: Double, e: Double) = if (o > 0.0) o * math.log(o / e) else 0.0
      val scored = cells.toSeq.collect {
        case ((s, w), c) if c >= minC && c * nt > cg(s) * cw(w) =>
          val (nn, gd, wd, o11) =
            (nt.toDouble, cg(s).toDouble, cw(w).toDouble, c.toDouble)
          val llr = 2.0 * (term(o11, gd * wd / nn) +
            term(gd - o11, gd * (nn - wd) / nn) +
            term(wd - o11, (nn - gd) * wd / nn) +
            term(nn - gd - wd + o11, (nn - gd) * (nn - wd) / nn))
          (s, w, c, r4(llr))
      }
      val want = scored.groupBy(_._1).values.flatMap { grp =>
        grp.sortBy(x => (-x._4, x._2)).zipWithIndex
          .take(topN)
          .map { case ((s, w, c, l), i) => (s, w, c, l, i.toLong + 1) }
      }.toSet
      (got == want: Prop) :| s"got=$got want=$want"
    }

  // ---- labelCoherenceMargin ≡ brute centroid silhouette ------------ //

  private val cohGen = for {
    n <- Gen.choose(0, 12)
    extra <- Gen.listOfN(n, for {
      l <- Gen.choose(0L, 2L)
      v <- Gen.listOfN(3, Gen.choose(-10, 10).map(_ / 10.0f))
    } yield (l, v))
  } yield Seq((0L, List(1.0f, 0.2f, -0.3f)), (1L, List(-0.5f, 0.9f, 0.1f))) ++
    extra.map { case (l, v) => (l, v.toList) }

  property("labelCoherenceMargin equals the brute silhouette replay") =
    Prop.forAll(cohGen) { pts =>
      import spark.implicits._
      val got = graft.operators.Clustering.labelCoherenceMargin(
          pts.toDF("label", "embedding"), col("embedding"), col("label"),
          dim = 3)
        .select("label", "n", "mean_own_cos", "mean_best_other",
          "mean_margin", "confused_frac")
        .as[(Long, Long, Double, Double, Double, Double)].collect()
        .map(r => r._1 -> r).toMap
      def q(x: Float) = math.floor(x.toDouble * 10000.0 + 0.5)
      val cents = pts.groupBy(_._1).view.mapValues { rows =>
        (0 until 3).map(d => rows.map(r => q(r._2(d))).sum).toArray
      }.toMap
      def dot(a: Seq[Double], b: Seq[Double]) =
        (0 until 3).foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      def cos(v: Seq[Float], c: Array[Double]) = {
        val vd = v.map(_.toDouble)
        val n = math.sqrt(dot(vd, vd)) * math.sqrt(dot(c.toSeq, c.toSeq))
        if (n == 0.0) 0.0 else dot(vd, c.toSeq) / n
      }
      val labels = cents.keys.toSeq.sorted
      val perPoint = pts.map { case (l, v) =>
        val a = cos(v, cents(l))
        val b = labels.filterNot(_ == l).map(m => cos(v, cents(m))).max
        (l, a, b)
      }
      val ok = perPoint.groupBy(_._1).forall { case (l, rows) =>
        val g = got(l)
        val near = (x: Double, y: Double) => math.abs(x - y) < 2e-6
        g._2 == rows.size.toLong &&
          near(g._3, rows.map(_._2).sum / rows.size) &&
          near(g._4, rows.map(_._3).sum / rows.size) &&
          near(g._5, rows.map(r => r._2 - r._3).sum / rows.size) &&
          g._6 == math.floor(
            rows.count(r => r._2 - r._3 <= 0.0).toDouble / rows.size
              * 1e6 + 0.5) / 1e6
      }
      (ok: Prop) :| s"got=$got perPoint=$perPoint"
    }

  // ---- quantileNormalize ≡ brute pooled interpolation --------------- //

  private val qnGen = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      g <- Gen.oneOf("a", "b", "c")
      x <- Gen.choose(0L, 30L)   // narrow range → plenty of ties
    } yield (g, x))
  } yield rows.zipWithIndex.map { case ((g, x), i) => (i.toLong, g, x) }

  property("quantileNormalize equals the brute pooled-percentile map") =
    Prop.forAll(qnGen) { rows =>
      import spark.implicits._
      val got = graft.operators.Sampling.quantileNormalize(
          rows.toDF("id", "g", "x"), col("id"), col("g"), col("x"))
        .select("id", "pct", "normalized")
        .as[(Long, Option[Double], Option[Double])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val pooled = rows.map(_._3.toDouble).sorted
      val nTot = pooled.size
      val want = rows.groupBy(_._2).values.flatMap { grp =>
        val xs = grp.map(_._3.toDouble)
        grp.map { case (id, _, x) =>
          val p =
            if (grp.size == 1) None
            else Some(xs.count(_ < x.toDouble).toDouble / (grp.size - 1))
          val norm = p.map { pp =>
            val pos = pp * (nTot - 1).toDouble
            val lo = math.floor(pos).toInt
            val hi = math.min(lo + 1, nTot - 1)
            val frac = pos - lo.toDouble
            pooled(lo) + frac * (pooled(hi) - pooled(lo))
          }
          id -> ((p, norm))
        }
      }.toMap
      def near(a: Option[Double], b: Option[Double]) = (a, b) match {
        case (Some(x), Some(y)) => math.abs(x - y) < 1e-9
        case (None, None) => true
        case _ => false
      }
      val ok = got.keySet == want.keySet && got.forall { case (id, g) =>
        near(g._1, want(id)._1) && near(g._2, want(id)._2)
      }
      (ok: Prop) :| s"got=$got want=$want"
    }
}
