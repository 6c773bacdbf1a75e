package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.functions._
import graft.plans.{AsOfJoin, BandJoin}
import graft.dedup.Dedup

/** Property-based invariants (SURVEY §5.3): the distributed operators
  * must agree with naive single-threaded reference computations on
  * arbitrary inputs, and the reference's by-construction invariants
  * must hold for generated data.
  */
object OperatorProps extends Properties("operators") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = GraftSpec.session
  import spark.implicits._

  private val ts0 = 1700000000000L
  private val genEvents: Gen[List[(Long, Long)]] = Gen.listOfN(30,
    for {
      k <- Gen.choose(1L, 3L)
      t <- Gen.choose(0L, 1000L)
    } yield (k, ts0 + t * 60000))

  /** As-of rows: keys include negatives, and either column may be null. */
  private val genAsOfEvents: Gen[List[(Option[Long], Option[java.sql.Timestamp])]] =
    Gen.listOfN(30, for {
      k <- Gen.frequency(1 -> Gen.const(None), 6 -> Gen.choose(-2L, 3L).map(Some(_)))
      t <- Gen.frequency(1 -> Gen.const(None),
        6 -> Gen.choose(0L, 1000L).map(t => Some(new java.sql.Timestamp(ts0 + t * 60000))))
    } yield (k, t))

  property("asOfJoin == naive latest-at-or-before lookup") =
    forAll(genAsOfEvents, genAsOfEvents) { (leftRaw, rightRaw) =>
      val left = leftRaw.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val right = rightRaw.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val lDf = left.toDF("lid", "k", "t")
      val rDf = right.toDF("rid", "k", "rt")
      val got = AsOfJoin(lDf, rDf, Seq("k"), "t", "rt", Seq("rid"), tieBreak = Some("rid"))
        .select($"lid", $"rid").as[(Long, Option[Long])].collect().toMap
      // SQL `=` / `<=`: a null key or time on either side never matches
      left.forall { case (lid, k, t) =>
        val candidates = right.collect {
          case (rid, Some(rk), Some(rt)) if k.contains(rk) && t.exists(!rt.after(_)) =>
            (rid, rt)
        }
        val expect = if (candidates.isEmpty) None
          else Some(candidates.maxBy { case (rid, rt) => (rt.getTime, rid) }._1)
        got(lid) == expect
      }
    }

  property("bandJoin == naive interval filter") =
    forAll(genEvents, genEvents) { (leftRaw, rightRaw) =>
      val left = leftRaw.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, new java.sql.Timestamp(t)) }
      val right = rightRaw.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, new java.sql.Timestamp(t)) }
      val win = 3600000L
      val got = BandJoin.lookback(
        left.toDF("lid", "k", "t"), right.toDF("rid", "k", "rt"),
        Seq("k"), "t", "rt", win)
        .select($"lid", $"rid").as[(Long, Long)].collect().toSet
      val expect = (for {
        (lid, lk, lt) <- left
        (rid, rk, rt) <- right
        if rk == lk && rt.getTime >= lt.getTime - win && rt.getTime <= lt.getTime
      } yield (lid, rid)).toSet
      got == expect
    }

  private val genWords: Gen[String] =
    Gen.listOfN(20, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta"))
      .map(_.mkString(" "))

  property("kernel roundPortableD == the roundPortable column expression") =
    forAll(Gen.listOfN(40, for {
      num <- Gen.choose(-100000L, 100000L)
      den <- Gen.choose(1L, 997L)
    } yield (num, den))) { pairs =>
      // quotients of small integers are exactly the population where
      // plain rounding diverges between engines; the kernel twin and
      // the column form must agree bit-for-bit on all of them
      val xs = pairs.map { case (n, d) => n.toDouble / d }
      val viaColumn = xs.zipWithIndex.map { case (x, i) => (i, x) }
        .toDF("i", "x")
        .select($"i", graft.functions.Shims.roundPortable($"x", 4).as("r"))
        .as[(Int, Double)].collect().sortBy(_._1).map(_._2).toSeq
      val viaKernel = xs.map(graft.sim.Vectors.roundPortableD(_, 4))
      viaColumn == viaKernel
    }

  private val genNoisyDoc: Gen[String] = for {
    words <- Gen.listOfN(3, Gen.oneOf("alpha", "beta", "gamma"))
    sep   <- Gen.oneOf(" ", "  ", " \t ", "\n")
    pad   <- Gen.oneOf("", " ", "  ", "\t")
    upper <- Gen.oneOf(true, false)
  } yield {
    val body = words.mkString(sep)
    pad + (if (upper) body.toUpperCase else body) + pad
  }

  property("exact dedup == naive min-id per canonical text") =
    forAll(Gen.listOfN(24, genNoisyDoc)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.exact(docs.toDF("id", "text"), "id", "text")
        .select($"id").as[Long].collect().toSet
      // Mirror fingerprint() exactly: Spark's trim strips ONLY ' '
      // (not \t/\n — Java's String.trim would diverge on tab padding),
      // then lower, then \s+ -> " ". The generator's tab/newline pads
      // exercise precisely that divergence.
      val expect = docs
        .groupBy { case (_, t) =>
          t.replaceAll("\\A +| +\\z", "").toLowerCase.replaceAll("\\s+", " ")
        }
        .values.map(_.map(_._1).min).toSet
      got == expect
    }

  private val genSourcedDoc: Gen[(String, String)] = for {
    src <- Gen.oneOf("s0", "s1", "s2")
    n   <- Gen.choose(1, 5)
    ws  <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta"))
    sep <- Gen.oneOf(" ", "  ")
  } yield (src, ws.mkString(sep))

  property("mixture sampler == naive per-source greedy hash-order prefix") =
    forAll(Gen.listOfN(20, genSourcedDoc)) { rows =>
      val docs = rows.zipWithIndex.map { case ((src, t), i) => (i.toLong, src, t) }
      val got = operators.TextOps.mixtureSample(
          docs.toDF("doc_id", "source", "text"))
        .select($"doc_id", $"sample_rank", $"kept")
        .as[(Long, Long, Boolean)].collect()
        .map { case (d, r, k) => d -> ((r, k)) }.toMap
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expect = docs.groupBy(_._2).flatMap { case (_, ds) =>
        val ordered = ds
          .map { case (id, _, t) =>
            val ntok = graft.text.TextFunctions.canonicalForm(t)
              .split("\\s+").length.toLong
            (md5hex(graft.text.TextFunctions.canonicalForm(t)), id, ntok)
          }
          .sortBy { case (fp, id, _) => (fp, id) }
        val budget = ordered.map(_._3).sum * 2 / 5
        var cum = 0L
        ordered.zipWithIndex.map { case ((_, id, ntok), idx) =>
          cum += ntok
          id -> (((idx + 1).toLong, cum <= budget))
        }
      }
      got == expect
    }

  property("training shards == naive global greedy sequential pack") =
    forAll(Gen.listOfN(20, genSourcedDoc), Gen.choose(5L, 40L)) { (rows, budget) =>
      val docs = rows.zipWithIndex.map { case ((src, t), i) => (i.toLong, src, t) }
      val got = operators.TextOps.trainingShards(
          docs.toDF("doc_id", "source", "text"), budget)
        .select($"doc_id", $"shard_id", $"shard_offset")
        .as[(Long, Int, Int)].collect()
        .map { case (d, s, o) => d -> ((s, o)) }.toMap
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val ordered = docs.map { case (id, _, t) =>
        val cf = graft.text.TextFunctions.canonicalForm(t)
        (md5hex(cf), id, cf.split("\\s+").length.toLong)
      }.sortBy { case (fp, id, _) => (fp, id) }
      var cum = 0L
      val expect = ordered.map { case (_, id, n) =>
        val prev = cum; cum += n
        id -> (((prev / budget).toInt, (prev % budget).toInt))
      }.toMap
      got == expect
    }

  property("temperature remix == naive sqrt-share budgets + greedy prefix") =
    forAll(Gen.listOfN(24, genSourcedDoc)) { rows =>
      val docs = rows.zipWithIndex.map { case ((src, t), i) => (i.toLong, src, t) }
      val got = operators.TextOps.temperatureRemix(
          docs.toDF("doc_id", "source", "text"))
        .select($"doc_id", $"sample_rank", $"kept", $"token_budget")
        .as[(Long, Long, Boolean, Long)].collect()
        .map { case (d, r, k, b) => d -> ((r, k, b)) }.toMap
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val perDoc = docs.map { case (id, src, t) =>
        val cf = graft.text.TextFunctions.canonicalForm(t)
        (id, src, md5hex(cf), cf.split("\\s+").length.toLong)
      }
      val bySrc = perDoc.groupBy(_._2)
      val srcTokens = bySrc.map { case (s, ds) => s -> ds.map(_._4).sum }
      val total = srcTokens.values.sum
      // mirror the operator's arithmetic exactly: one IEEE quotient,
      // correctly-rounded sqrt, integer-scaled round; then pure integers
      val rw = srcTokens.map { case (s, n) =>
        s -> math.round(math.sqrt(n.toDouble / total) * 1e6) }
      val norm = rw.values.sum
      val budgets = rw.map { case (s, r) => s -> ((total / 2) * r) / norm }
      val expect = bySrc.flatMap { case (src, ds) =>
        val ordered = ds.map { case (id, _, fp, n) => (fp, id, n) }
          .sortBy { case (fp, id, _) => (fp, id) }
        var cum = 0L
        ordered.zipWithIndex.map { case ((_, id, n), idx) =>
          cum += n
          id -> (((idx + 1).toLong, cum <= budgets(src), budgets(src)))
        }
      }
      got == expect
    }

  property("split-leakage audit == naive planted-dup pair count; content-hash leaks 0") =
    forAll(Gen.listOfN(25, genNoisyDoc)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = operators.TextOps.splitLeakage(docs.toDF("doc_id", "text"))
        .as[(String, Long, Long)].collect()
        .map { case (p, d, c) => p -> ((d, c)) }.toMap
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def split(h: String) = {
        val b = Integer.parseInt(h.substring(0, 4), 16) % 1000
        if (b < 800) "train" else if (b < 900) "validation" else "test"
      }
      val byId = docs.toMap
      val planted = docs.map { case (id, t) =>
        val head = byId.get((id / 5) * 5)
        (id, if (id % 5 == 4 && head.isDefined) head.get else t)
      }
      val withFp = planted.map { case (id, t) =>
        (id, md5hex(graft.text.TextFunctions.canonicalForm(t))) }
      def stats(splitOf: ((Long, String)) => String): (Long, Long) = {
        val groups = withFp.groupBy(_._2).values
        val pairs = groups.map(g => g.size.toLong * (g.size - 1) / 2).sum
        val cross = groups.map { g =>
          val n = g.size.toLong
          val same = g.groupBy(splitOf).values
            .map(s => s.size.toLong * (s.size - 1)).sum
          (n * (n - 1) - same) / 2
        }.sum
        (pairs, cross)
      }
      got("content_hash") == stats { case (_, fp) => split(fp) } &&
        got("id_hash") == stats { case (id, _) => split(md5hex(id.toString)) } &&
        got("content_hash")._2 == 0L
    }

  private val genKnnEdges: Gen[List[(Long, Long, Double)]] =
    Gen.listOfN(40, for {
      a <- Gen.choose(0L, 9L)
      b <- Gen.choose(0L, 9L)
      c <- Gen.choose(0, 10000)
    } yield (a, b, c / 1e4)).map(
      _.filter(e => e._1 != e._2).distinctBy(e => (e._1, e._2)))

  property("mutual-kNN == naive reciprocity + degree reference") =
    forAll(genKnnEdges) { edges =>
      val got = graft.sim.Vectors.mutualKnn(
          edges.toDF("probe_id", "neighbor_id", "cosine"))
        .as[(Long, Long, Double, Int, Int)].collect().toSet
      val keySet = edges.map(e => (e._1, e._2)).toSet
      val mutual = edges.filter { case (a, b, _) => a < b && keySet((b, a)) }
      val deg = (mutual.map(_._1) ++ mutual.map(_._2))
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val expect = mutual
        .map { case (a, b, c) => (a, b, c, deg(a), deg(b)) }.toSet
      got == expect
    }

  private val genUniString: Gen[String] = Gen.listOfN(12, Gen.oneOf(
    "a", "e\u0301", "\u00e9", "o\u0302", "n\u0303", "\u00f1", " ", "Z",
    "\u0308")).map(_.mkString)

  property("nfc native expression == java.text.Normalizer NFC") =
    forAll(Gen.listOfN(20, genUniString)) { ss =>
      // the generator mixes decomposed pairs, precomposed chars, and a
      // BARE combining mark (which NFC may attach to a preceding base
      // char) — the population where a half-correct normalizer diverges
      val got = ss.zipWithIndex.map { case (s, i) => (i, s) }
        .toDF("i", "s")
        .select($"i", graft.functions.NfcNormalize.column(spark, $"s").as("n"))
        .as[(Int, String)].collect().sortBy(_._1).map(_._2).toSeq
      val expect = ss.map(
        java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
      got == expect
    }

  private val genChunkDoc: Gen[String] = for {
    n  <- Gen.choose(1, 150)
    ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta"))
  } yield ws.mkString(" ")

  property("context chunker == naive sliding-window reference") =
    forAll(Gen.listOfN(6, genChunkDoc)) { texts =>
      val win = 10; val stride = 7   // small windows: multi-chunk docs
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = operators.TextOps.contextChunks(
          docs.toDF("doc_id", "text"), win, stride)
        .select($"doc_id", $"chunk_idx", $"start_token", $"chunk_len", $"chunk_md5")
        .as[(Long, Int, Int, Int, String)].collect().toSet
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expect = docs.flatMap { case (id, t) =>
        val toks = t.trim.split("\\s+").toSeq
        val n = toks.length
        val nChunks = (math.max(n - win, 0) + stride - 1) / stride + 1
        (0 until nChunks).map { i =>
          val s = i * stride
          val chunk = toks.slice(s, math.min(s + win, n))
          (id, i, s, chunk.length, md5hex(chunk.mkString(" ")))
        }
      }.toSet
      got == expect
    }

  private val genClassifierDoc: Gen[String] = for {
    n  <- Gen.choose(1, 20)
    ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta"))
  } yield ws.mkString(" ")   // space-only padding: the operator uses
  // Spark trim (strips ' ' only), so the reference's String.trim is
  // equivalent exactly on space-separated text

  property("quality classifier == naive hashed-linear reference") =
    forAll(Gen.listOfN(8, genClassifierDoc)) { texts =>
      val dim = 64; val thr = 10000L   // small dim: bucket collisions
      // (shared weights — the hashing trick's defining behavior) occur
      // constantly, so the property exercises them, not just clean hits
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = operators.TextOps.qualityClassifier(
          docs.toDF("doc_id", "text"),
          operators.TextOps.classifierWeights(spark, dim), dim, thr)
        .select($"doc_id", $"n_features", $"score_ppm_sum", $"mean_logit", $"keep")
        .as[(Long, Int, Long, Double, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      def bucketOf(f: String): Int = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(f.getBytes("UTF-8"))
        (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % dim   // first 4 hex nibbles
      }
      def wOf(j: Int): Long = (j + 1).toLong * 2654435761L % 2000001L - 1000000L
      docs.forall { case (id, t) =>
        val toks = t.trim.split("\\s+").toSeq
        val feats = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString("_"))
        val s = feats.map(f => wOf(bucketOf(f))).sum
        val n = feats.size
        got(id) == ((n, s,
          graft.sim.Vectors.roundPortableD(s / 1e6 / n, 4), s > thr * n))
      }
    }

  property("quality classifier FNV production twin == naive FNV reference") =
    forAll(Gen.listOfN(8, genClassifierDoc)) { texts =>
      val dim = 64; val thr = 10000L   // small dim: collisions exercised
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = operators.TextOps.qualityClassifier(
          docs.toDF("doc_id", "text"),
          operators.TextOps.classifierWeights(spark, dim), dim, thr,
          bucketOf = f => pmod(
            graft.functions.FnvHash64.column(spark, f), lit(dim.toLong)))
        .select($"doc_id", $"n_features", $"score_ppm_sum", $"mean_logit", $"keep")
        .as[(Long, Int, Long, Double, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      def bucketOf(f: String): Int =
        java.lang.Math.floorMod(graft.functions.FnvHash64.hash(f), dim.toLong).toInt
      def wOf(j: Int): Long = (j + 1).toLong * 2654435761L % 2000001L - 1000000L
      docs.forall { case (id, t) =>
        val toks = t.trim.split("\\s+").toSeq
        val feats = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString("_"))
        val s = feats.map(f => wOf(bucketOf(f))).sum
        val n = feats.size
        got(id) == ((n, s,
          graft.sim.Vectors.roundPortableD(s / 1e6 / n, 4), s > thr * n))
      }
    }

  private val genTopKRows: Gen[List[(Long, Double, String)]] =
    Gen.listOfN(40, for {
      g <- Gen.choose(1L, 5L)
      s <- Gen.oneOf(Gen.choose(-100, 100).map(_ / 8.0), Gen.const(0.5))
      i <- Gen.oneOf("aa", "ab", "ba", "bb", "ca", "cb", "cc", "dd")
    } yield (g, s, i))   // coarse scores + tiny alphabet: score ties and
  // duplicate (score, item) pairs occur constantly, so the tie-break
  // path and the duplicate-tolerant insert are what the property tests

  property("topk_struct == sorted-take-k reference (score DESC, item ASC)") =
    forAll(genTopKRows, Gen.choose(1, 4)) { (rows, k) =>
      val got = rows.toDF("g", "s", "item")
        .groupBy($"g")
        .agg(graft.functions.TopKStruct.topk(spark, $"s", $"item", k).as("top"))
        .select($"g", posexplode($"top"))
        .select($"g", $"pos", $"col.score", $"col.item")
        .as[(Long, Int, Double, String)].collect()
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toList).toMap
      val expect = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._2, r._3))
          .sortBy { case (s, i) => (-s, i) }.take(k)
      }
      got.keySet == expect.keySet && expect.forall { case (g, e) => got(g) == e }
    }

  property("misra_gries: superset + lower-bound guarantees under eviction; exact when distinct <= k") =
    forAll(
      Gen.listOfN(120, Gen.frequency(
        (6, Gen.const("hot")), (3, Gen.const("warm")),
        (1, Gen.oneOf((1 to 30).map(i => s"cold$i"))))),
      Gen.choose(2, 6)) { (items, k) =>
      // small k on a 30+-distinct stream: eviction fires constantly
      val got = items.map(Tuple1(_)).toDF("item")
        .agg(graft.functions.MisraGries.sketch(spark, $"item", k).as("sk"))
        .select(explode($"sk")).select($"col.item", $"col.cnt")
        .as[(String, Long)].collect().toMap
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = items.size.toLong
      val supersetHolds = truth.forall { case (i, c) =>
        c * (k + 1) <= n || got.contains(i) }         // freq > N/(k+1) ⇒ present
      val lowerBound = got.forall { case (i, c) =>
        c <= truth(i) && truth(i) - c <= n / (k + 1) } // under-count bounded
      val sizeOk = got.size <= k
      // exactness when the sketch never evicts
      val exactGot = items.map(Tuple1(_)).toDF("item")
        .agg(graft.functions.MisraGries.sketch(spark, $"item", 64).as("sk"))
        .select(explode($"sk")).select($"col.item", $"col.cnt")
        .as[(String, Long)].collect().toMap
      supersetHolds && lowerBound && sizeOk && exactGot == truth
    }

  property("sharded sessionize == single-window sessionize (q39b ≡ q39)") =
    forAll(genEvents) { raw =>
      // the 4-partition test session forces range splits through the
      // middle of users' event runs, so the cross-partition boundary
      // fix-up and the offset ladder are genuinely exercised
      val events = raw.zipWithIndex.map { case ((k, t), i) =>
        (i.toLong, k, new java.sql.Timestamp(t), (i % 97) / 10.0)
      }.toDF("event_id", "user_id", "ts", "value")
      val got = operators.Advanced.sessionizeScalable(events)
        .select($"user_id", $"session_seq", $"n_events",
          $"start_ms", $"end_ms", $"total_value")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      // naive single-threaded reference: per-user sort, gap flags, cumsum
      val expect = events.collect().map(r => (r.getLong(1),
          r.getLong(0), r.getTimestamp(2).getTime, r.getDouble(3)))
        .groupBy(_._1).flatMap { case (u, es) =>
          val sorted = es.sortBy(e => (e._3, e._2)).toList
          val seqs = sorted.scanLeft((0L, Long.MinValue)) { case ((s, prev), e) =>
            (if (prev == Long.MinValue || e._3 - prev > 30 * 60000L) s + 1 else s, e._3)
          }.tail.map(_._1)
          sorted.zip(seqs).groupBy(_._2).map { case (seq, ses) =>
            val ts = ses.map(_._1._3)
            (u, seq, ses.size.toLong, ts.min, ts.max,
              ses.map(e => math.round(e._1._4 * 100)).sum / 100.0)
          }
        }.toSet
      got == expect
    }

  property("perplexity filter == naive bigram-LM + tercile reference") =
    forAll(Gen.listOfN(10, genClassifierDoc)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = operators.TextOps.perplexityScore(docs.toDF("doc_id", "text"))
        .select($"doc_id", $"n_bigrams", $"mean_nll", $"ppl_bucket", $"keep")
        .as[(Long, Int, Option[Double], String, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val toks = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
      val allBi = toks.flatMap(_._2.sliding(2).filter(_.size == 2)
        .map(p => (p(0), p(1))))
      val c2 = allBi.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val c1 = allBi.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val v = toks.flatMap(_._2).distinct.size.toLong
      val nll: Map[Long, Option[Double]] = toks.map { case (id, ts) =>
        val bis = ts.sliding(2).filter(_.size == 2).toSeq
        id -> (if (bis.isEmpty) None
        else {
          // the same position-ordered left fold the operator runs
          var acc = 0.0
          bis.foreach { p =>
            acc -= math.log((c2((p(0), p(1))) + 1).toDouble / (c1(p(0)) + v))
          }
          Some(graft.sim.Vectors.roundPortableD(acc / bis.size, 6))
        })
      }.toMap
      // Spark exact-percentile interpolation: idx = p·(n−1) over the
      // sorted non-null scores, linear between neighbors
      val sorted = nll.values.flatten.toSeq.sorted
      def cut(p: Double): Double = {
        val idx = p * (sorted.size - 1)
        val lo = idx.toInt
        val hi = math.min(lo + 1, sorted.size - 1)
        sorted(lo) + (sorted(hi) - sorted(lo)) * (idx - lo)
      }
      val (cut33, cut67) = (cut(0.33), cut(0.67))
      toks.forall { case (id, ts) =>
        val bis = ts.sliding(2).filter(_.size == 2).size
        val (n, m, b, k) = got(id)
        val expBucket = nll(id) match {
          case None => "unscored"
          case Some(x) if x <= cut33 => "head"
          case Some(x) if x <= cut67 => "middle"
          case _ => "tail"
        }
        n == bis &&
          m.isDefined == nll(id).isDefined &&
          m.zip(nll(id)).forall { case (a, e) => math.abs(a - e) < 1e-9 } &&
          b == expBucket && k == (expBucket != "tail")
      }
    }

  private val genBpeDoc: Gen[String] = for {
    n  <- Gen.choose(0, 12)   // 0 ⇒ empty doc: exercises the null path
    ws <- Gen.listOfN(n, Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "eps", "zeta", "a", "ab", "abab", "zz"))
  } yield ws.mkString(" ")

  property("bpe train+encode == naive dictionary-BPE reference") =
    forAll(Gen.listOfN(10, genBpeDoc)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // unique model-cache key per generated corpus (the memo is per
      // corpus snapshot by contract)
      val key = s"prop|${texts.hashCode}|${texts.map(_.length).sum}"
      val df = docs.toDF("doc_id", "text")
      val got = operators.TextOps.bpeTrainEncode(df, modelKey = key)
        .select($"doc_id", $"n_words", $"n_chars", $"n_bpe_tokens",
          $"chars_per_token")
        .as[(Long, Int, Long, Long, Option[Double])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      // naive reference, written immutably and encoding every word
      // OCCURRENCE (the operator encodes each DISTINCT word once and
      // joins — the machinery under test)
      val toks = docs.map { case (id, t) =>
        id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      }
      val wc = toks.flatMap(_._2).groupBy(identity).view
        .mapValues(_.size.toLong).toSeq
        .sortBy { case (w, c) => (-c, w) }.take(operators.TextOps.BpeMaxDict)
      def naiveMerge(s: List[String], p: (String, String)): List[String] = s match {
        case a :: b :: rest if (a, b) == p => (a + b) :: naiveMerge(rest, p)
        case a :: rest => a :: naiveMerge(rest, p)
        case Nil => Nil
      }
      var ws = wc.map { case (w, c) => (w.map(_.toString).toList, c) }
      var merges = List.empty[(String, String)]
      var stop = false
      while (merges.size < operators.TextOps.BpeMerges && !stop) {
        val counts = ws.flatMap { case (s, c) => s.zip(s.tail).map(p => (p, c)) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        if (counts.isEmpty) stop = true
        else {
          val best = counts.toSeq
            .sortBy { case ((a, b), c) => (-c, a, b) }.head._1
          merges = merges :+ best
          ws = ws.map { case (s, c) => (naiveMerge(s, best), c) }
        }
      }
      val rank = merges.zipWithIndex.toMap
      def naiveEncode(w: String): List[String] = {
        var s = w.map(_.toString).toList
        var cont = s.size >= 2
        while (cont) {
          val present = s.zip(s.tail).filter(rank.contains)
          if (present.isEmpty) cont = false
          else s = naiveMerge(s, present.minBy(rank))
        }
        s
      }
      // the learned model itself must match, not just its effects
      // (bpeModel returns the memoized table trained by the run above)
      val modelOk = operators.TextOps.bpeModel(df,
        s"$key|m${operators.TextOps.BpeMerges}|d${operators.TextOps.BpeMaxDict}") ==
        rank
      modelOk && toks.forall { case (id, ts) =>
        val enc = ts.map(naiveEncode)
        val conserve = ts.zip(enc).forall { case (w, e) => e.mkString == w }
        val chars = ts.map(_.length.toLong).sum
        val bpe = enc.map(_.size.toLong).sum
        val expRatio = if (bpe > 0)
          Some(graft.sim.Vectors.roundPortableD(chars.toDouble / bpe, 4))
        else None
        val (n, c, b, r) = got(id)
        conserve && n == ts.size && c == chars && b == bpe &&
          r.isDefined == expRatio.isDefined &&
          r.zip(expRatio).forall { case (a, e) => a == e }
      }
    }

  property("source token drift == naive total-variation distance") =
    forAll(Gen.listOfN(15, genSourcedDoc)) { rows =>
      val docs = rows.zipWithIndex.map { case ((src, t), i) => (i.toLong, src, t) }
      val got = operators.TextOps.sourceTokenDrift(
          docs.toDF("doc_id", "source", "text"))
        .select($"source", $"n_tokens", $"n_distinct_tokens", $"tv_drift")
        .as[(String, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val toks = docs.map { case (_, s, t) => s -> t.trim.split("\\s+").toSeq }
      val corpus = toks.flatMap(_._2).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val bigN = corpus.values.sum
      toks.groupBy(_._1).forall { case (src, ds) =>
        val cnt = ds.flatMap(_._2).groupBy(identity)
          .view.mapValues(_.size.toLong).toMap
        val ns = cnt.values.sum
        // the closed-form TV restated naively: per-token |p - q| over
        // the UNION vocabulary, summed the direct way (toSeq first —
        // mapping over the key SET would dedupe equal |Δ| terms)
        val tvRaw = corpus.toSeq.map { case (tok, d) =>
          math.abs(cnt.getOrElse(tok, 0L) * bigN - d * ns)
        }.sum * 1.0 / (2L * ns * bigN)
        got(src) == ((ns, cnt.size.toLong,
          graft.sim.Vectors.roundPortableD(tvRaw, 6)))
      }
    }

  property("jaccard kernel == naive set jaccard") =
    forAll(Gen.listOfN(6, genWords)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.ngramJaccardPairsKernel(
        docs.toDF("id", "text"), "id", "text", n = 3, threshold = 0.0)
        .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
        .collect().map { case (a, b, j) => ((a, b), j) }.toMap
      def shingles(t: String) =
        t.trim.split("\\s+").toSeq.sliding(3).filter(_.size == 3)
          .map(_.mkString(" ")).toSet
      docs.combinations(2).forall { case Seq((ia, ta), (ib, tb)) =>
        val (sa, sb) = (shingles(ta), shingles(tb))
        if (sa.isEmpty || sb.isEmpty || (sa & sb).isEmpty)
          !got.contains((ia min ib, ia max ib))
        else {
          // the kernel rounds with roundPortableD (r7 sweep) — the
          // reference must round identically or boundary jaccards
          // (non-dyadic denominators) fail spuriously
          val expect = graft.sim.Vectors.roundPortableD(
            (sa & sb).size * 1.0 / (sa | sb).size, 4)
          got.get((ia min ib, ia max ib)).contains(expect)
        }
      }
    }
  // q95's blocking-exhaustiveness claim, on ARBITRARY digit strings:
  // SymSpell deletion-neighborhood blocking (one key per deleted
  // position) must recover EXACTLY the pairs the naive cross join
  // finds at levenshtein ≤ 1 — including skewed distributions where
  // many strings share long prefixe/suffix runs (the case that
  // defeated pigeonhole half-blocking).
  private val genDigits: Gen[List[String]] = Gen.listOfN(25,
    Gen.oneOf(
      Gen.choose(0, 30).map(n => f"$n%09d"),        // dense sequential-ish
      Gen.choose(0, 999999999).map(n => f"$n%09d")) // sparse
  )

  property("deletion-neighborhood blocking == cross-join levenshtein<=1") =
    forAll(genDigits, genDigits) { (as, bs) =>
      val aDf = as.distinct.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("aid", "ad")
      val bDf = bs.distinct.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("bid", "bd")
      def blocks(df: org.apache.spark.sql.DataFrame, sc: String) = df
        .select(df.columns.map(col) :+ explode(array((1 to 9).map(i =>
          concat(lit(s"$i:"), substring(col(sc), 1, i - 1),
            substring(col(sc), i + 1, 9 - i))): _*)).as("blk"): _*)
      val got = blocks(aDf, "ad").join(blocks(bDf, "bd"), Seq("blk"))
        .filter(levenshtein($"ad", $"bd") <= 1)
        .select($"aid", $"bid").distinct()
        .as[(Long, Long)].collect().toSet
      val want = (for {
        (a, i) <- as.distinct.zipWithIndex
        (b, j) <- bs.distinct.zipWithIndex
        if naiveLev1(a, b)
      } yield (i.toLong, j.toLong)).toSet
      got == want
    }

  /** equal-length distance ≤ 1 ⇔ hamming ≤ 1 (naive reference). */
  private def naiveLev1(a: String, b: String): Boolean =
    a.length == b.length && a.zip(b).count { case (x, y) => x != y } <= 1

  // q101's closed form (s_n = x_1·2^-(n-1) + Σ x_t·2^-(n-t+1)) must be
  // BIT-identical to the defining recurrence s_t = x_t/2 + s_{t-1}/2 on
  // arbitrary integer series — the dyadic-exactness claim that makes
  // the oracle hash-checkable
  property("exp smoothing closed form == the s/2 + x/2 recurrence, bit-exact") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 5000L)).map(_.take(30))) { xs =>
      val rec = xs.tail.foldLeft(xs.head.toDouble)((s, x) => x / 2.0 + s / 2.0)
      val n = xs.length
      val closed = xs.zipWithIndex.map { case (x, idx) =>
        val i = idx + 1
        val k = if (i == 1) n - 1 else n - i + 1
        x / (1L << k).toDouble
      }.sum
      java.lang.Double.doubleToLongBits(rec) ==
        java.lang.Double.doubleToLongBits(closed)
    }

  property("weighted sample == naive A-ES (u^(1/w)) per-source top-k reference") =
    forAll(Gen.listOfN(24, genSourcedDoc)) { rows =>
      val docs = rows.zipWithIndex.map { case ((src, t), i) => (i.toLong, src, t) }
      val got = operators.TextOps.weightedSample(
          docs.toDF("doc_id", "source", "text"), spark, 3)
        .select($"source", $"rnk", $"doc_id")
        .as[(String, Int, Long)].collect().toSet
      val expect = docs.groupBy(_._2).flatMap { case (src, ds) =>
        val keyed = ds.map { case (id, _, t) =>
          // exact replicas of the column pipeline: xxhash64 (seed 42)
          // → uniform → u^(1/w) via the SAME JVM Math.pow
          val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L)
          val u = ((h & Long.MaxValue).toDouble + 1.0) / 9.223372036854776e18
          val w = t.trim.split("\\s+").length.toDouble
          (math.pow(u, 1.0 / w), f"$id%018d", id)
        }.sortBy { case (k, item, _) => (-k, item) }
        keyed.take(3).zipWithIndex.map { case ((_, _, id), i) => (src, i + 1, id) }
      }.toSet
      got == expect
    }
}

/** SCD2 invariants under arbitrary batch sequences. */
object Scd2Props extends Properties("scd2") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = GraftSpec.session
  import spark.implicits._
  import graft.etl.Scd2

  private val genBatch: Gen[List[(Long, String)]] =
    Gen.listOfN(6, for {
      id <- Gen.choose(1L, 4L)
      v <- Gen.oneOf("a", "b", "c")
    } yield (id, v)).map(_.distinctBy(_._1))

  property("single-current + non-overlapping windows after any batch sequence") =
    forAll(genBatch, genBatch, genBatch) { (b1, b2, b3) =>
      val days = Seq("2025-01-01", "2025-02-01", "2025-03-01")
      val batches = Seq(b1, b2, b3)
      var dim = Scd2.emptyDim(
        Seq((0L, "x")).toDF("id", "v"), "id", Seq("v"), "sk")
      batches.zip(days).foreach { case (b, day) =>
        if (b.nonEmpty) {
          dim = Scd2.applyBatch(dim, b.toDF("id", "v"), "id", Seq("v"),
            to_date(lit(day)), "sk")
        }
      }
      val rows = dim.select($"id", $"valid_from", $"valid_to", $"is_current")
        .as[(Long, java.sql.Date, java.sql.Date, Boolean)].collect()
      val byKey = rows.groupBy(_._1)
      byKey.values.forall { vs =>
        val curCount = vs.count(_._4) == 1
        val sorted = vs.sortBy(_._2.getTime)
        val noOverlap = sorted.sliding(2).forall {
          case Array(a, b) => a._3.getTime < b._2.getTime
          case _ => true
        }
        curCount && noOverlap
      }
    }

}
