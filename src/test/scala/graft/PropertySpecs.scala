package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.Fnv1a64Helper

/** ScalaCheck properties for the pure conversion kernels (SURVEY §5's
  * mapping: property tests for F3-F5 + hash stability). Runs under sbt's
  * native ScalaCheck framework — no Spark session needed. */
object ConversionProps extends Properties("conversions") {

  // F3 microTimestampToMillis: integer division, consistent with ns path
  property("micros->millis agrees with nanos->millis for positive times") =
    forAll(Gen.chooseNum(0L, 4102444800000000L)) { us =>
      val ns = us * 1000
      (us / 1000) == (ns / 1000000)
    }

  property("micros->millis truncates toward zero for positives") =
    forAll(Gen.chooseNum(0L, Long.MaxValue / 1000)) { us =>
      val ms = us / 1000
      ms * 1000 <= us && us - ms * 1000 < 1000
    }

  // F5 money normalization: 2-dp rounding is idempotent and order-stable
  private def round2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  property("round2 is idempotent") =
    forAll(Gen.chooseNum(-1e9, 1e9)) { x => round2(round2(x)) == round2(x) }

  property("round2 of exact 2-dp values is identity") =
    forAll(Gen.chooseNum(-100000000L, 100000000L)) { cents =>
      val x = cents / 100.0
      round2(x) == x
    }

  // FNV-1a 64: stability + avalanche sanity
  property("fnv1a64 is deterministic") =
    forAll { (s: String) =>
      Fnv1a64Helper.hashBytes(s.getBytes("UTF-8")) ==
        Fnv1a64Helper.hashBytes(s.getBytes("UTF-8"))
    }

  property("fnv1a64 distinguishes appended bytes") =
    forAll { (s: String) =>
      Fnv1a64Helper.hashBytes(s.getBytes("UTF-8")) !=
        Fnv1a64Helper.hashBytes((s + "x").getBytes("UTF-8"))
    }
}

/** Properties of the training-prep arithmetic, driven by the PRODUCTION
  * constants and the pure-model estimator
  * (`Oracles.estTokensModel`, asserted equal to the Column form in
  * TrainingPrepSpec) — a cut or estimator change in the operator flows
  * into these properties rather than past them. */
object TrainingPrepProps extends Properties("training-prep") {
  import graft.text.TrainingPrep

  private val MaxTokens = 256L
  private def estTokens(len: Int): Long = Oracles.estTokensModel(len)

  property("packing: per-shard streams are contiguous, gap-free, EOS-floored") =
    forAll(Gen.listOf(Gen.chooseNum(0, 2000))) { lens =>
      val toks = lens.map(estTokens)
      val ends = toks.scanLeft(0L)(_ + _).tail
      val starts = ends.zip(toks).map { case (e, t) => e - t }
      toks.forall(_ >= 1) &&                                   // EOS floor
        starts.zip(ends).forall { case (s, e) => s < e } &&    // nonempty span
        (starts.isEmpty || starts.head == 0L) &&               // stream origin
        starts.drop(1).zip(ends.dropRight(1))
          .forall { case (s, e) => s == e }                    // no gaps/overlap
    }

  property("packing: first/last sequence indices exactly bracket the span") =
    forAll(Gen.listOf(Gen.chooseNum(0, 5000))) { lens =>
      val toks = lens.map(estTokens)
      val ends = toks.scanLeft(0L)(_ + _).tail
      ends.zip(toks).forall { case (e, t) =>
        val s = e - t
        val first = s / MaxTokens
        val last = (e - 1) / MaxTokens
        first <= last &&
          first * MaxTokens <= s && s < (first + 1) * MaxTokens &&
          last * MaxTokens < e && e <= (last + 1) * MaxTokens &&
          ((first == last) == (t <= MaxTokens - s % MaxTokens))
      }
    }

  property("split: every id lands in exactly one production-cut bucket") =
    forAll(Gen.chooseNum(0L, Long.MaxValue - 1)) { id =>
      val k = id % 100
      val t = TrainingPrep.TrainPct
      val v = TrainingPrep.ValPct
      Seq(k < t, k >= t && k < t + v, k >= t + v).count(identity) == 1
    }

  property("split: a full residue cycle matches the production percentages") = {
    val ks = (0L until 100L)
    val t = TrainingPrep.TrainPct
    val v = TrainingPrep.ValPct
    ks.count(_ < t) == t &&
      ks.count(k => k >= t && k < t + v) == v &&
      ks.count(_ >= t + v) == 100 - t - v
  }
}

/** The streaming rolling-spend tracker against a quadratic reference
  * model, driven through Spark's own TestGroupState across random batch
  * splits — pins the state pruning, the peer semantics, cross-batch frame
  * continuity and the lateness policy without a streaming harness. */
object RollingSpendProps extends Properties("rolling-spend-tracker") {
  import org.apache.spark.api.java.Optional
  import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
  import org.apache.spark.util.LongAccumulator
  import graft.streaming.{RollTxn, RollingSpendTracker, Sealed}

  private val WindowUs = 100L * 1000000L // 100 s

  private val genEvents: Gen[List[(Long, Long)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 300L), Gen.chooseNum(1L, 1000L)))

  private def txns(raw: List[(Long, Long)]): List[RollTxn] =
    raw.zipWithIndex.map { case ((tsSec, kobo), i) =>
      RollTxn(i.toLong, 7L, tsSec * 1000000L, kobo,
        new java.sql.Timestamp(tsSec * 1000L))
    }.sortBy(e => (e.event_time_us, e.txn_id))

  /** Time-ordered batches of whole timestamp groups (same-ts peers share a
    * batch), at most `nBatches` of them. */
  private def batches(events: List[RollTxn], nBatches: Int): Seq[List[RollTxn]] = {
    val tsGroups = events.groupBy(_.event_time_us).toSeq.sortBy(_._1).map(_._2)
    val per = math.max(1, math.ceil(tsGroups.size.toDouble / nBatches).toInt)
    tsGroups.grouped(per).map(_.flatten.toList).toSeq
  }

  /** Feeds `batches` in order through one tracker; returns its rows as
    * (txn_id, spend, n) and the late-row count. */
  private def track(batches: Seq[List[RollTxn]]): (Set[(Long, Long, Long)], Long) = {
    val late = new LongAccumulator
    val fold = RollingSpendTracker.fold(WindowUs, late)
    var state: Option[Sealed[Seq[(Long, Long)]]] = None
    val got = batches.filter(_.nonEmpty).flatMap { chunk =>
      // watermark trails the batch max by the window so nothing times
      // out mid-feed (the timeout path is pinned separately below)
      val wmMs = math.max(0L,
        chunk.map(_.event_time_us).max / 1000 - WindowUs / 1000 - 1000)
      val gs = TestGroupState.create[Sealed[Seq[(Long, Long)]]](
        state.fold(Optional.empty[Sealed[Seq[(Long, Long)]]]())(Optional.of),
        GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(wmMs),
        hasTimedOut = false)
      val rows = fold(7L, chunk.iterator, gs).toList
      state = if (gs.exists) Some(gs.get) else None
      rows
    }.map(r => (r.txn_id, r.rolling_spend_kobo, r.rolling_n_txns)).toSet
    (got, late.value)
  }

  /** The batch RANGE window over `events`. */
  private def model(events: Seq[RollTxn]): Set[(Long, Long, Long)] =
    events.map { e =>
      val frame = events.filter(o =>
        o.event_time_us >= e.event_time_us - WindowUs &&
          o.event_time_us <= e.event_time_us)
      (e.txn_id, frame.map(_.kobo).sum, frame.size.toLong)
    }.toSet

  property("tracker == trailing-window model under in-order batch splits") =
    forAll(genEvents, Gen.chooseNum(1, 5)) { (raw, nBatches) =>
      val events = txns(raw)
      track(batches(events, nBatches)) == ((model(events), 0L))
    }

  property("tracker == trailing-window model over the rows a seal model " +
      "accepts, under random batch order") =
    forAll(genEvents, Gen.chooseNum(1, 5), Gen.long) { (raw, nBatches, seed) =>
      val events = txns(raw)
      val arrival = new scala.util.Random(seed).shuffle(batches(events, nBatches))
      // the seal model: a row behind the newest (ts, id) already accepted
      // is rejected
      var seal = (Long.MinValue, Long.MinValue)
      val accepted = arrival.flatMap(_.filter { e =>
        val k = (e.event_time_us, e.txn_id)
        val ok = Ordering[(Long, Long)].gteq(k, seal)
        if (ok) seal = k
        ok
      })
      track(arrival) == ((model(accepted), (events.size - accepted.size).toLong))
    }

  property("event-time timeout frees the state and emits nothing") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 300L),
      Gen.chooseNum(1L, 1000L)))) { raw =>
      val buf: Seq[(Long, Long)] =
        raw.map { case (ts, k) => (ts * 1000000L, k) }
      // timeout fires only once the watermark passed every buffered frame
      val wmMs = buf.map(_._1).max / 1000 + WindowUs / 1000 + 1
      val gs = TestGroupState.create[Sealed[Seq[(Long, Long)]]](
        Optional.of(Sealed(buf, buf.map(_._1).max, 0L)),
        GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(wmMs),
        hasTimedOut = true)
      val rows = RollingSpendTracker.fold(WindowUs, new LongAccumulator)(
        7L, Iterator.empty, gs).toList
      rows.isEmpty && !gs.exists
    }
}

/** The winsorize cut against a pure-Scala order-statistic model — pins
  * the histogram-cumulative selection (the scale-correct form) to the
  * naive sorted-rank definition across random value multisets. Pure
  * model-vs-model: the Spark plan itself is covered by FeaturesSpec and
  * the oracle gate. */
object WinsorizeProps extends Properties("winsorize-cut") {

  private def histogramCut(kobos: Seq[Long], p: Double): Long = {
    // the operator's definition: smallest value whose cumulative
    // histogram count reaches ceil(p * n)
    val need = math.ceil(p * kobos.size).toLong
    val hist = kobos.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    var cum = 0L
    hist.collectFirst { case (k, c) if { cum += c; cum >= need } => k }.get
  }

  private def rankCut(kobos: Seq[Long], p: Double): Long = {
    // the naive definition: value at ascending rank ceil(p * n)
    val sorted = kobos.sorted
    sorted((math.ceil(p * kobos.size).toInt - 1).max(0))
  }

  property("histogram-cumulative cut == sorted-rank order statistic") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 50L)),
        Gen.chooseNum(1, 99)) { (kobos, pct) =>
      val p = pct / 100.0
      histogramCut(kobos, p) == rankCut(kobos, p)
    }
}

/** The streaming near-dup bucket store at the `maxResidents` cap, against
  * random arrival streams: the cap bounds STATE, never output — capped-out
  * arrivals still pair against the residents, and no two non-admitted
  * docs ever pair with each other (neither is in state to be paired
  * against). Drives [[graft.streaming.DocStream.process]] directly via
  * Spark's TestGroupState harness; the end-to-end streaming equivalence
  * lives in DocStreamSpec. */
object DocStreamBucketProps extends Properties("docstream-bucket-cap") {
  import org.apache.spark.api.java.Optional
  import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
  import graft.streaming.DocStream

  property("residents = first cap distinct arrivals; pairs never join two capped-out docs") =
    forAll(Gen.chooseNum(1, 6), Gen.nonEmptyListOf(Gen.chooseNum(1L, 25L))) {
      (cap, ids) =>
        val state = TestGroupState.create[DocStream.BucketState](
          Optional.empty(), GroupStateTimeout.EventTimeTimeout,
          batchProcessingTimeMs = 0L, eventTimeWatermarkMs = Optional.of(1L),
          hasTimedOut = false)
        // distinct, increasing timestamps: arrival order == list order
        val rows = ids.zipWithIndex.map { case (id, i) =>
          DocStream.BandRow(id, new java.sql.Timestamp(1000000L + i), 0, 7L)
        }.iterator
        val out = DocStream.process(stateTtlMs = 60000L, maxResidents = cap)(
          (0, 7L), rows, state).toSeq
        val residents = state.get.residents
        val wantResidents = ids.distinct.take(cap)
        val admitted = residents.toSet
        residents == wantResidents.toVector &&
          out.forall(p => p.doc_a != p.doc_b) &&
          out.forall(p => admitted.contains(p.doc_a) || admitted.contains(p.doc_b))
    }
}

/** The PQ codegen kernels ([[graft.functions.PqKernel]]) against a naive
  * reference written independently of the flattened layout: same codes,
  * same LUT entries, for arbitrary codebooks and grid vectors — the
  * layout arithmetic (subspace offsets, slot indexing, tie-breaks) is the
  * part a unit fixture could silently get wrong in both places. */
object PqKernelProps extends Properties("pq-kernel") {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import graft.functions.PqKernel

  private val geom = for {
    m <- Gen.choose(1, 4)
    subDim <- Gen.choose(1, 4)
    // per subspace: 1..4 centroids with ascending ids in 0..7
    books <- Gen.listOfN(m, for {
      ids <- Gen.someOf(0 to 7).suchThat(_.nonEmpty)
      cvs <- Gen.listOfN(ids.size,
        Gen.listOfN(subDim, Gen.choose(0L, 255L)))
    } yield ids.toSeq.sorted.zip(cvs.map(_.toArray)))
    g <- Gen.listOfN(m * subDim, Gen.choose(0L, 255L))
  } yield (m, subDim, books, g.toArray)

  private def flatten(m: Int, subDim: Int,
      books: Seq[Seq[(Int, Array[Long])]]) = {
    val cids = books.flatMap(_.map(_._1.toLong)).toArray
    val off = books.scanLeft(0)(_ + _.size).toArray
    val cen = books.flatMap(_.flatMap(_._2)).toArray
    (cen, cids, off)
  }

  private def naiveDist(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  property("encode == naive per-subspace argmin with lowest-id ties") =
    forAll(geom) { case (m, subDim, books, g) =>
      val (cen, cids, off) = flatten(m, subDim, books)
      val got = PqKernel.encode(cen, cids, off, m, subDim,
        new GenericArrayData(g)).toLongArray().toSeq
      val want = (0 until m).map { s =>
        val sub = g.slice(s * subDim, (s + 1) * subDim)
        books(s).map { case (id, cv) => (naiveDist(sub, cv), id) }
          .minBy { case (d, id) => (d, id) }._2.toLong
      }
      got == want
    }

  property("lut == naive distances at id slots, MaxValue elsewhere") =
    forAll(geom) { case (m, subDim, books, g) =>
      val (cen, cids, off) = flatten(m, subDim, books)
      val ksubMax = books.map(_.map(_._1).max + 1).max
      val got = PqKernel.lut(cen, cids, off, m, subDim, ksubMax,
        new GenericArrayData(g)).toLongArray()
      (0 until m).forall { s =>
        val sub = g.slice(s * subDim, (s + 1) * subDim)
        val byId = books(s).map { case (id, cv) => id -> naiveDist(sub, cv) }.toMap
        (0 until ksubMax).forall { c =>
          got(s * ksubMax + c) == byId.getOrElse(c, Long.MaxValue)
        }
      }
    }

  property("encode code is always the argmin the lut reports") =
    forAll(geom) { case (m, subDim, books, g) =>
      val (cen, cids, off) = flatten(m, subDim, books)
      val ksubMax = books.map(_.map(_._1).max + 1).max
      val codes = PqKernel.encode(cen, cids, off, m, subDim,
        new GenericArrayData(g)).toLongArray()
      val lut = PqKernel.lut(cen, cids, off, m, subDim, ksubMax,
        new GenericArrayData(g)).toLongArray()
      (0 until m).forall { s =>
        val row = (0 until ksubMax).map(c => lut(s * ksubMax + c))
        row(codes(s).toInt) == row.min
      }
    }
}

/** Properties of the Morton (Z-order) interleave kernel — the bit-exact
  * invariants the layout's skipping argument rests on: bijectivity (via
  * de-interleave roundtrip), monotonicity in each dimension's high bit,
  * and the locality guarantee that a shared bit-prefix in BOTH dims pins
  * a contiguous curve range. */
object ZOrderProps extends Properties("zorder-interleave") {
  import graft.functions.ZOrderHelper.interleave

  private def deinterleave(z: Long, bits: Int): (Long, Long) = {
    var x = 0L; var y = 0L
    for (i <- 0 until bits) {
      x |= ((z >> (2 * i)) & 1L) << i
      y |= ((z >> (2 * i + 1)) & 1L) << i
    }
    (x, y)
  }

  private val cell16 = Gen.chooseNum(0L, 65535L)

  property("roundtrip: deinterleave(interleave(x, y)) == (x, y)") =
    forAll(cell16, cell16) { (x, y) =>
      deinterleave(interleave(x, y, 16), 16) == ((x, y))
    }

  property("injective on sampled distinct pairs") =
    forAll(cell16, cell16, cell16, cell16) { (x1, y1, x2, y2) =>
      ((x1, y1) == (x2, y2)) == (interleave(x1, y1, 16) == interleave(x2, y2, 16))
    }

  property("quadrant prefix: same top-k bits in both dims => same curve block") =
    forAll(cell16, cell16, Gen.chooseNum(1, 8)) { (x, y, k) =>
      // all cells sharing x and y's top k bits land in one contiguous
      // 2^(2*(16-k))-sized block of the curve — the skipping invariant
      val blockBits = 2 * (16 - k)
      val z = interleave(x, y, 16)
      val zTop = interleave(x >> (16 - k) << (16 - k), y >> (16 - k) << (16 - k), 16)
      (z >> blockBits) == (zTop >> blockBits)
    }

  property("out-of-range input throws, never aliases") =
    forAll(Gen.chooseNum(65536L, Long.MaxValue / 2)) { x =>
      scala.util.Try(interleave(x, 0L, 16)).isFailure
    }
}
