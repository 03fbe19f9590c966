package graft.operators

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilarityAsOfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 2.0f)),
      (3L, Array(3.0f, 0.0f))).toDF("vec_id", "embedding")
    val sims = Similarity.nearDupPairs(df, idCap = 10, threshold = -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(sims((1L, 3L)) - 1.0) < 1e-9)
    assert(math.abs(sims((1L, 2L))) < 1e-9)
  }

  test("exact top-k is ordered by similarity desc on real embeddings") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val top = Similarity.topKCosine(emb, queryId = 0L, k = 10).collect()
    assert(top.length === 10)
    val sims = top.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(!top.exists(_.getLong(0) == 0L))
  }

  test("LSH ANN top-k recalls a reasonable share of the exact top-k") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val exact = Similarity.topKCosine(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    // nBits sizes buckets to the corpus: 4 bits → 16 buckets over 500
    // vectors, Hamming-1 multiprobe scans ~30% of the corpus.
    val approx = Similarity.topKCosineApprox(emb, 0L, 10, nBits = 4).collect()
      .map(_.getLong(0)).toSet
    val recall = (exact & approx).size / 10.0
    assert(recall >= 0.3, s"ANN recall $recall too low even for multi-probe LSH")
  }

  test("IVF ANN: deterministic centroids, candidate scan shrinks, decent recall") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val c1 = Similarity.ivfCentroids(emb, nCentroids = 8)
    val c2 = Similarity.ivfCentroids(emb, nCentroids = 8)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq,
      "seeded KMeans centroids not deterministic")

    // nProbe=3 of 8 lists → candidate set is a strict subset of the corpus
    val assigned = Similarity.ivfAssign(emb, c1)
    val listSizes = assigned.groupBy("centroid_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(listSizes.size === 8 && listSizes.values.sum === emb.count())

    val exact = Similarity.topKCosine(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.topKCosineIVF(emb, 0L, 10, c1, nProbe = 3).collect()
      .map(_.getLong(0)).toSet
    val recall = (exact & ivf).size / 10.0
    assert(recall >= 0.3, s"IVF recall $recall too low for nProbe=3/8")
  }

  test("s3 gate: measured multiprobe recall = bucket-coverage prediction ≥ S-curve bound (sf0.1)") {
    // Two-level quantified gate at the s3 probe's own settings (nBits=8,
    // k=20) on the 2000-vector sf0.1 corpus:
    //  1. EXACT structural identity — the probe ranks candidates by true
    //     cosine, and an exact-top-k member in a probed bucket can be
    //     outranked by at most k−1 candidates, so measured recall MUST
    //     equal the deterministic Hamming-≤1 bucket coverage of the
    //     exact top-k. Any daylight between the two is a bug, not noise.
    //  2. ANALYTIC floor — per Charikar, a plane agrees on (q, x) with
    //     p = 1 − θ/π; nBits independent planes give
    //     P(Ham ≤ 1) = p^b + b·p^(b-1)(1−p). Measured recall over
    //     5 queries × 20 neighbors must sit within 3σ of that
    //     prediction (σ from the Bernoulli sum; one fixed seeded
    //     hyperplane realization, hence the slack).
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val nBits = 8
    val k = 20
    val queries = Seq(0L, 400L, 800L, 1200L, 1600L)
    val buckets = Similarity.annBuckets(emb, nBits)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var structHits = 0
    var measuredHits = 0
    var eSum = 0.0
    var varSum = 0.0
    queries.foreach { qid =>
      val exact = Similarity.topKCosine(emb, qid, k).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val approx = Similarity.topKCosineApprox(emb, qid, k, nBits).collect()
        .map(_.getLong(0)).toSet
      val qb = buckets(qid)
      exact.foreach { case (id, sim) =>
        if (java.lang.Long.bitCount(buckets(id) ^ qb) <= 1) structHits += 1
        if (approx(id)) measuredHits += 1
        val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, sim))) / math.Pi
        val pHit = math.pow(p, nBits) +
          nBits * math.pow(p, nBits - 1) * (1.0 - p)
        eSum += pHit
        varSum += pHit * (1.0 - pHit)
      }
    }
    val n = queries.size * k
    assert(measuredHits === structHits,
      s"measured hits $measuredHits != deterministic bucket coverage $structHits")
    val measured = measuredHits.toDouble / n
    val predicted = eSum / n
    val sigma = math.sqrt(varSum) / n
    assert(measured >= predicted - 3 * sigma,
      f"s3 recall $measured%.3f below S-curve prediction $predicted%.3f − 3σ " +
        f"(σ=$sigma%.3f) — multiprobe coverage regressed")
    assert(measured <= predicted + 3 * sigma,
      f"s3 recall $measured%.3f above prediction $predicted%.3f + 3σ — " +
        "suspicious: check the hyperplane/bucket derivation")
  }

  test("s4 gate: IVF recall = probed-list coverage; probing all lists is exact (sf0.1)") {
    // Same structural-identity argument as the s3 gate, at the s4
    // probe's settings (16 lists, nProbe=4, k=20): within probed lists
    // the scan is exact cosine, so measured recall EQUALS the fraction
    // of the exact top-k assigned to the nProbe nearest lists — the
    // probe-count predicted bound is not a floor but an identity. And
    // nProbe = nLists degenerates to the exact scan: recall must be 1.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val k = 20
    val nLists = 16
    val cents = Similarity.ivfCentroids(emb, nCentroids = nLists)
    val assign = Similarity.ivfAssign(emb, cents)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val queries = Seq(0L, 400L, 800L, 1200L, 1600L)
    var predictedHits = 0
    var measuredHits = 0
    queries.foreach { qid =>
      val qArr = emb.filter(col("vec_id") === qid)
        .select(Similarity.asDouble(col("embedding"))).collect()(0)
        .getSeq[Double](0).toArray
      val probed = cents.zipWithIndex.sortBy { case (c, _) =>
        c.zip(qArr).map { case (x, y) => (x - y) * (x - y) }.sum
      }.take(4).map(_._2).toSet
      val exact = Similarity.topKCosine(emb, qid, k).collect()
        .map(_.getLong(0))
      val ivf = Similarity.topKCosineIVF(emb, qid, k, cents, nProbe = 4)
        .collect().map(_.getLong(0)).toSet
      predictedHits += exact.count(id => probed(assign(id)))
      measuredHits += exact.count(ivf)
    }
    assert(measuredHits === predictedHits,
      s"IVF measured hits $measuredHits != probed-list coverage $predictedHits")
    // coverage sanity: nProbe=4 of 16 lists must still catch a usable
    // share of the true neighbors on this corpus
    val recall = measuredHits.toDouble / (queries.size * k)
    assert(recall >= 0.3, s"IVF nProbe=4/16 recall $recall degenerate")

    // full probe ≡ exact scan
    val exactIds = Similarity.topKCosine(emb, 0L, k).collect().map(_.getLong(0)).toSeq
    val fullProbe = Similarity.topKCosineIVF(emb, 0L, k, cents, nProbe = nLists)
      .collect().map(_.getLong(0)).toSeq
    assert(fullProbe === exactIds, "nProbe = nLists must reproduce the exact top-k")
  }

  test("PQ: deterministic codes, finer codebooks cut ADC error, absent query is empty") {
    val emb = Similarity.l2Normalized(Tables.embeddings(spark, TestSpark.sfDir))
    val coarse = Similarity.pqCodebooks(emb, m = 8, ksub = 2)
    val fine = Similarity.pqCodebooks(emb, m = 8, ksub = 16)

    // codes are a pure function of (vector, codebooks)
    val c1 = Similarity.pqEncode(emb, fine).select("vec_id", "pq_code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val c2 = Similarity.pqEncode(emb.repartition(7), fine)
      .select("vec_id", "pq_code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(c1 === c2)

    // mean |ADC − true L2²| to a fixed query shrinks as ksub grows
    val vecs = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val q = vecs(0L)
    def adcError(books: Array[Array[Array[Double]]],
        codes: Map[Long, Seq[Int]]): Double = {
      val dsub = books(0)(0).length
      val errs = vecs.collect { case (id, v) if id != 0L =>
        val trueD = v.zip(q).map { case (x, y) => (x - y) * (x - y) }.sum
        val adc = books.zipWithIndex.map { case (book, j) =>
          val c = book(codes(id)(j))
          c.zip(q.slice(j * dsub, (j + 1) * dsub))
            .map { case (x, y) => (x - y) * (x - y) }.sum
        }.sum
        math.abs(adc - trueD)
      }
      errs.sum / errs.size
    }
    val coarseCodes = Similarity.pqEncode(emb, coarse).select("vec_id", "pq_code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val eCoarse = adcError(coarse, coarseCodes)
    val eFine = adcError(fine, c1)
    assert(eFine < eCoarse,
      f"ksub=16 ADC error $eFine%.4f not below ksub=2's $eCoarse%.4f")

    assert(Similarity.pqTopK(emb, queryId = -999L, k = 5, fine).count() === 0L)
  }

  test("s19 gate: PQ hits = exact ∩ ADC candidates; full rerank is the exact scan (sf0.1)") {
    // The s3/s4 identity argument, PQ form: the rerank leg is exact
    // cosine over the ADC candidate set, and a true top-k member among
    // the candidates is outranked by at most k−1 vectors anywhere — so
    // measured recall EQUALS candidate coverage of the exact top-k. The
    // candidate set is recomputed here DRIVER-SIDE from the codes and
    // lookup tables, so the identity also cross-checks the in-row ADC
    // expression against an independent implementation.
    val emb = Similarity.l2Normalized(
      Tables.embeddings(spark, "/root/testdata/sf0.1"))
    val k = 20
    val rerank = 4
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16)
    val dsub = books(0)(0).length
    val codes = Similarity.pqEncode(emb, books).select("vec_id", "pq_code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val n = codes.size
    var predictedHits = 0
    var measuredHits = 0
    Seq(0L, 400L, 800L, 1200L, 1600L).foreach { qid =>
      val qArr = emb.filter(col("vec_id") === qid)
        .select(Similarity.asDouble(col("embedding"))).collect()(0)
        .getSeq[Double](0).toArray
      // driver-side ADC with the same literal tables and sum order
      val luts = books.zipWithIndex.map { case (book, j) =>
        val qb = qArr.slice(j * dsub, (j + 1) * dsub)
        book.map(c => c.zip(qb).map { case (x, y) => (x - y) * (x - y) }.sum)
      }
      val cands = codes.iterator.collect { case (id, code) if id != qid =>
        id -> luts.zipWithIndex
          .map { case (lut, j) => lut(code(j)) }.reduce(_ + _)
      }.toSeq.sortBy { case (id, d) => (d, id) }.take(rerank * k)
        .map(_._1).toSet
      val exact = Similarity.topKCosine(emb, qid, k).collect().map(_.getLong(0))
      val pq = Similarity.pqTopK(emb, qid, k, books, rerank)
        .collect().map(_.getLong(0)).toSet
      predictedHits += exact.count(cands)
      measuredHits += exact.count(pq)
    }
    assert(measuredHits === predictedHits,
      s"PQ measured hits $measuredHits != ADC candidate coverage $predictedHits")
    val recall = measuredHits.toDouble / (5 * k)
    // the same usable-share floor as the s3/s4 gates — this corpus is
    // near-uniform (the hard case for ANN); measured ≈ 0.41 here
    assert(recall >= 0.3, s"PQ rerank=4 recall $recall degenerate for m=8/ksub=16")

    // rerank*k covering the corpus degenerates to the exact scan
    val exactIds = Similarity.topKCosine(emb, 0L, k).collect()
      .map(_.getLong(0)).toSeq
    val full = Similarity.pqTopK(emb, 0L, k, books,
        rerank = n / k + 1).collect().map(_.getLong(0)).toSeq
    assert(full === exactIds, "rerank*k >= N must reproduce the exact top-k")
  }

  test("s20 gate: IVFADC hits = exact ∩ probed-list ADC candidates; full probe+rerank is exact (sf0.1)") {
    // The s4 and s19 identities COMPOSED: a true top-k neighbor is
    // returned iff its IVF list is probed AND it survives the ADC cut
    // within the probed subset (the rerank leg is exact cosine). Both
    // stages are recomputed driver-side from the same centroids, codes
    // and lookup tables, so the identity cross-checks the in-row
    // prune+ADC pipeline against an independent implementation.
    val emb = Similarity.l2Normalized(
      Tables.embeddings(spark, "/root/testdata/sf0.1"))
    val k = 20
    val rerank = 4
    val nProbe = 4
    val nLists = 16
    val cents = Similarity.ivfCentroids(emb, nCentroids = nLists)
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16)
    val dsub = books(0)(0).length
    val assign = Similarity.ivfAssign(emb, cents)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val codes = Similarity.pqEncode(emb, books).select("vec_id", "pq_code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val n = codes.size
    var predictedHits = 0
    var measuredHits = 0
    Seq(0L, 400L, 800L, 1200L, 1600L).foreach { qid =>
      val qArr = emb.filter(col("vec_id") === qid)
        .select(Similarity.asDouble(col("embedding"))).collect()(0)
        .getSeq[Double](0).toArray
      val probed = cents.zipWithIndex.sortBy { case (c, _) =>
        c.zip(qArr).map { case (x, y) => (x - y) * (x - y) }.sum
      }.take(nProbe).map(_._2).toSet
      // driver-side ADC over probed-list members ONLY, same sum order
      val luts = books.zipWithIndex.map { case (book, j) =>
        val qb = qArr.slice(j * dsub, (j + 1) * dsub)
        book.map(c => c.zip(qb).map { case (x, y) => (x - y) * (x - y) }.sum)
      }
      val cands = codes.iterator.collect {
        case (id, code) if id != qid && probed(assign(id)) =>
          id -> luts.zipWithIndex
            .map { case (lut, j) => lut(code(j)) }.reduce(_ + _)
      }.toSeq.sortBy { case (id, d) => (d, id) }.take(rerank * k)
        .map(_._1).toSet
      val exact = Similarity.topKCosine(emb, qid, k).collect().map(_.getLong(0))
      val got = Similarity.ivfAdcTopK(emb, qid, k, cents, books,
        nProbe, rerank).collect().map(_.getLong(0)).toSet
      predictedHits += exact.count(cands)
      measuredHits += exact.count(got)
    }
    assert(measuredHits === predictedHits,
      s"IVFADC measured hits $measuredHits != two-stage coverage $predictedHits")
    // composed recall ≤ min(s4 list coverage, s19 ADC survival); still a
    // usable share on this near-uniform corpus or the composition is
    // degenerate (e.g. the prune dropping everything before the ADC cut)
    val recall = measuredHits.toDouble / (5 * k)
    assert(recall >= 0.1,
      s"IVFADC nProbe=$nProbe/$nLists rerank=$rerank recall $recall degenerate")

    // probing every list with a corpus-covering rerank IS the exact scan
    val exactIds = Similarity.topKCosine(emb, 0L, k).collect()
      .map(_.getLong(0)).toSeq
    val full = Similarity.ivfAdcTopK(emb, 0L, k, cents, books,
        nProbe = nLists, rerank = n / k + 1).collect().map(_.getLong(0)).toSeq
    assert(full === exactIds,
      "nProbe = nLists ∧ rerank·k ≥ N must reproduce the exact top-k")

    // absent query keeps the empty-result contract of both parents
    assert(Similarity.ivfAdcTopK(emb, queryId = -999L, k = 5, cents, books)
      .count() === 0L)
  }

  test("s21 gate: residual encoding cuts ADC error; coverage identity + degeneracy hold (sf0.1)") {
    val emb = Similarity.l2Normalized(
      Tables.embeddings(spark, "/root/testdata/sf0.1"))
    val k = 20
    val rerank = 4
    val nProbe = 4
    val nLists = 16
    val cents = Similarity.ivfCentroids(emb, nCentroids = nLists)
    val rawBooks = Similarity.pqCodebooks(emb, m = 8, ksub = 16)
    val resBooks = Similarity.pqCodebooksResidual(emb, cents, m = 8, ksub = 16)
    val dsub = rawBooks(0)(0).length
    val vecs = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val assign = Similarity.ivfAssign(emb, cents)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val resCodes = Similarity.pqEncodeResidual(emb, cents, resBooks)
      .select("vec_id", "pq_code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val rawCodes = Similarity.pqEncode(emb, rawBooks).select("vec_id", "pq_code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val q = vecs(0L)

    // 1) residuals quantize tighter: mean |ADC − true L2²| to query 0
    //    drops vs the raw encoding at the identical byte budget
    def err(id: Long): (Double, Double) = {
      val v = vecs(id)
      val trueD = v.zip(q).map { case (x, y) => (x - y) * (x - y) }.sum
      val rawAdc = rawBooks.zipWithIndex.map { case (book, j) =>
        val c = book(rawCodes(id)(j))
        c.zip(q.slice(j * dsub, (j + 1) * dsub))
          .map { case (x, y) => (x - y) * (x - y) }.sum
      }.sum
      val cl = cents(assign(id))
      val qRes = q.zip(cl).map { case (x, c) => x - c }
      val resAdc = resBooks.zipWithIndex.map { case (book, j) =>
        val c = book(resCodes(id)(j))
        c.zip(qRes.slice(j * dsub, (j + 1) * dsub))
          .map { case (x, y) => (x - y) * (x - y) }.sum
      }.sum
      (math.abs(rawAdc - trueD), math.abs(resAdc - trueD))
    }
    val errs = vecs.keys.filter(_ != 0L).map(err)
    val (rawErr, resErr) = (errs.map(_._1).sum / errs.size,
      errs.map(_._2).sum / errs.size)
    assert(resErr < rawErr,
      f"residual ADC error $resErr%.5f not below raw $rawErr%.5f at equal bytes")

    // 2) two-stage coverage identity, per-list residual tables
    var predictedHits = 0
    var measuredHits = 0
    Seq(0L, 400L, 800L, 1200L, 1600L).foreach { qid =>
      val qArr = vecs(qid)
      val probed = cents.zipWithIndex.sortBy { case (c, _) =>
        c.zip(qArr).map { case (x, y) => (x - y) * (x - y) }.sum
      }.take(nProbe).map(_._2).toSet
      val cands = resCodes.iterator.collect {
        case (id, code) if id != qid && probed(assign(id)) =>
          val qRes = qArr.zip(cents(assign(id))).map { case (x, c) => x - c }
          id -> resBooks.zipWithIndex.map { case (book, j) =>
            val c = book(code(j))
            c.zip(qRes.slice(j * dsub, (j + 1) * dsub))
              .map { case (x, y) => (x - y) * (x - y) }.sum
          }.sum
      }.toSeq.sortBy { case (id, dv) => (dv, id) }.take(rerank * k)
        .map(_._1).toSet
      val exact = Similarity.topKCosine(emb, qid, k).collect().map(_.getLong(0))
      val got = Similarity.ivfAdcResidualTopK(emb, qid, k, cents, resBooks,
        nProbe, rerank).collect().map(_.getLong(0)).toSet
      predictedHits += exact.count(cands)
      measuredHits += exact.count(got)
    }
    assert(measuredHits === predictedHits,
      s"residual IVFADC hits $measuredHits != two-stage coverage $predictedHits")

    // 3) full probe + corpus-covering rerank degenerates to the exact scan
    val exactIds = Similarity.topKCosine(emb, 0L, k).collect()
      .map(_.getLong(0)).toSeq
    val full = Similarity.ivfAdcResidualTopK(emb, 0L, k, cents, resBooks,
        nProbe = nLists, rerank = vecs.size / k + 1)
      .collect().map(_.getLong(0)).toSeq
    assert(full === exactIds,
      "nProbe = nLists ∧ rerank·k ≥ N must reproduce the exact top-k")

    // 4) absent query → empty
    assert(Similarity.ivfAdcResidualTopK(emb, -999L, 5, cents, resBooks)
      .count() === 0L)
  }

  test("s25 gate: batched residual IVFADC == single-query path per query; one scan serves all (sf0.1)") {
    // the residual twin of the s23 gate: per-(query, list) ADC tables
    // move from driver literals to an in-row derivation on the
    // probe-pair relation — same arithmetic in the same order, so
    // per-query results must be BIT-identical to ivfAdcResidualTopK
    val emb = Similarity.l2Normalized(
      Tables.embeddings(spark, "/root/testdata/sf0.1"))
    val k = 20
    val rerank = 4
    val nProbe = 4
    val nLists = 16
    val cents = Similarity.ivfCentroids(emb, nCentroids = nLists)
    val books = Similarity.pqCodebooksResidual(emb, cents, m = 8, ksub = 16)
    val dir = graft.TestSpark.tempDir("graft_ivfadc_res_batch")
    Similarity.pqEncodeResidual(emb, cents, books)
      .select("vec_id", "centroid_id", "pq_code")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(dir)
    val index = spark.read.parquet(dir)
    val qids = Seq(0L, 400L, 800L, 1200L, 1600L)
    val queries = emb.filter(col("vec_id").isin(qids.map(Long.box): _*))
    val batch = Similarity.ivfAdcResidualTopKBatch(index, emb, queries, k,
      cents, books, nProbe, rerank)
    val rows = batch.collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    qids.foreach { qid =>
      val single = Similarity.ivfAdcResidualTopK(emb, qid, k, cents, books,
          nProbe, rerank).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
      val got = byQ.getOrElse(qid, Array.empty[org.apache.spark.sql.Row])
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
      assert(got === single,
        s"residual batch for query $qid diverges from the single-query path")
    }
    val plan = batch.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    val scanLines = plan.split("\n").filter(l =>
      l.contains("Location") && l.contains(new java.io.File(dir).getName))
    assert(scanLines.length === 1,
      s"expected exactly 1 index scan, found ${scanLines.length}")
    assert(scanLines(0).contains("dynamicpruning"),
      "probed lists must partition-prune the index scan (DPP)")
  }

  test("s21 recall sweep: planted-neighbor recall over the nProbe × rerank grid; monotone in rerank; pinned floor") {
    // The coverage identity proves the pipeline is internally
    // consistent; this gate pins retrieval QUALITY with a number, so a
    // codebook/encode regression (e.g. a broken residual subtraction
    // that still satisfies the identity) trips an assertion. Fixture:
    // the planted-twin corpus (vec_id + 10000 = a 0.99+-cosine copy);
    // recall@5 = fraction of queries whose twin is retrieved.
    val base = Tables.embeddings(spark, TestSpark.sfDir)
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
    val planted = base.select((col("vec_id") + 10000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => (x + (i % 3 - 1) * lit(0.01f)).cast("float")).as("embedding"))
    val corpus = Similarity.l2Normalized(base.unionByName(planted))
    val nLists = 16
    val k = 5
    val cents = Similarity.ivfCentroids(corpus, nCentroids = nLists)
    val books = Similarity.pqCodebooksResidual(corpus, cents, m = 8, ksub = 16)
    val qids = (0 until 8).map(_ * 25L)
    def recall(nProbe: Int, rerank: Int): Double =
      qids.count { qid =>
        Similarity.ivfAdcResidualTopK(corpus, qid, k, cents, books,
            nProbe, rerank).collect()
          .exists(_.getLong(0) == qid + 10000L)
      }.toDouble / qids.size
    val grid = for (nProbe <- Seq(1, 4, nLists); rerank <- Seq(1, 4))
      yield (nProbe, rerank) -> recall(nProbe, rerank)
    info(grid.map { case ((p, r), v) => f"nProbe=$p%2d rerank=$r: $v%.3f" }
      .mkString("; "))
    // the shortlist is a PREFIX of the ADC ordering, so candidates grow
    // with rerank at fixed nProbe and hits (= exact ∩ shortlist, the
    // coverage identity) are monotone non-decreasing
    Seq(1, 4, nLists).foreach { p =>
      val m = grid.toMap
      assert(m((p, 1)) <= m((p, 4)),
        s"recall must be monotone in rerank at nProbe=$p")
    }
    // degeneracy cell: all lists probed + corpus-covering rerank IS the
    // exact scan, and the planted twin is every query's exact top-1
    assert(recall(nLists, 400 / k + 1) === 1.0,
      "full-probe, corpus-covering rerank must retrieve every planted twin")
    // pinned floor at the s21 probe settings — the regression tripwire.
    // Measured 1.0 on the seeded fixture; 0.75 leaves slack for any
    // future legitimate fixture/codebook re-seed while still catching a
    // real encode break (a broken residual path measured ≈ 0.2). Read
    // from the grid already computed above — recall() runs 8 full
    // retrieval jobs per call.
    val r44 = grid.toMap.apply((4, 4))
    assert(r44 >= 0.75,
      s"recall@5 at (nProbe=4, rerank=4) fell below the 0.75 floor: $r44")
  }

  test("annQuantizers: shared-sample fits are bit-identical to the separate entry points") {
    val emb = Similarity.l2Normalized(Tables.embeddings(spark, TestSpark.sfDir))
    val (cents, books) = Similarity.annQuantizers(emb)
    assert(cents.map(_.toSeq).toSeq ===
      Similarity.ivfCentroids(emb, nCentroids = 16).map(_.toSeq).toSeq,
      "shared-sample centroids diverge from ivfCentroids")
    assert(books.map(_.map(_.toSeq).toSeq).toSeq ===
      Similarity.pqCodebooks(emb, m = 8, ksub = 16)
        .map(_.map(_.toSeq).toSeq).toSeq,
      "shared-sample codebooks diverge from pqCodebooks")
    val (rCents, rBooks) = Similarity.annQuantizers(emb, residual = true)
    assert(rCents.map(_.toSeq).toSeq === cents.map(_.toSeq).toSeq)
    assert(rBooks.map(_.map(_.toSeq).toSeq).toSeq ===
      Similarity.pqCodebooksResidual(emb, cents, m = 8, ksub = 16)
        .map(_.map(_.toSeq).toSeq).toSeq,
      "shared-sample residual codebooks diverge from pqCodebooksResidual")
  }

  test("s28 gate: OPQ rotation is orthogonal; training objective <= plain PQ; corpus ADC error drops") {
    val emb = Similarity.l2Normalized(
      Tables.embeddings(spark, "/root/testdata/sf0.1"))
    val (r, opqBooks) = Similarity.opqQuantizers(emb, m = 8, ksub = 16)
    val dim = r.length

    // 1) R is orthogonal: R·Rᵀ = I to fp precision
    for (i <- 0 until dim; j <- 0 until dim) {
      val dot = (0 until dim).map(k => r(i)(k) * r(j)(k)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9,
        s"R·Rᵀ[$i][$j] = $dot, expected $expect — rotation not orthogonal")
    }

    // 2) training objective never worse than plain PQ (iteration 0 is
    //    plain PQ and the best iterate is returned)
    val rawBooks = Similarity.pqCodebooks(emb, m = 8, ksub = 16)
    val dsub = rawBooks(0)(0).length
    val vecs = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")))
      .collect().map(rw => rw.getLong(0) -> rw.getSeq[Double](1).toArray).toMap
    def rotate(x: Array[Double]) =
      Array.tabulate(dim)(i => (0 until dim).map(j => r(i)(j) * x(j)).sum)
    def qErr(x: Array[Double], books: Array[Array[Array[Double]]]): Double =
      (0 until 8).map { j =>
        val block = x.slice(j * dsub, (j + 1) * dsub)
        books(j).map(c => c.zip(block).map { case (a, b) =>
          (a - b) * (a - b) }.sum).min
      }.sum
    val rawObj = vecs.values.map(qErr(_, rawBooks)).sum / vecs.size
    val opqObj = vecs.values.map(x => qErr(rotate(x), opqBooks)).sum / vecs.size
    info(f"corpus quantization error: plain PQ $rawObj%.6f, OPQ $opqObj%.6f")
    // the best-iterate guarantee (iteration 0 ≡ plain PQ) holds on the
    // TRAINING SAMPLE objective; this measures the full CORPUS, where a
    // sample-winning rotation admits a generalization gap — same 1.02
    // slack convention as the s29 encode-quality ladder gate
    assert(opqObj <= rawObj * 1.02,
      f"OPQ corpus quantization error $opqObj%.6f above plain PQ $rawObj%.6f " +
        "(beyond the 2% generalization slack) — the learned rotation must " +
        "not hurt at equal bytes")

    // 3) the rotated-space exact rerank ranks like the original space:
    //    orthogonal rotations preserve cosines (up to fp + the 6-d.p.
    //    contract round)
    val rotEmb = Similarity.rotated(emb, r)
    val a = Similarity.topKCosine(emb, 0L, 10).collect().map(_.getLong(0)).toSeq
    val b = Similarity.topKCosine(rotEmb, 0L, 10).collect().map(_.getLong(0)).toSeq
    assert(a === b, "rotation must preserve the exact cosine ranking")
  }

  test("opqQuantizers fails fast on a NaN-poisoned fit sample") {
    // a single NaN component propagates through rotate/reconstruct into
    // every iteration's objective; without the finite guard bestBooks
    // stays null and the caller NPEs far from the cause
    val poisoned = Seq(
      (1L, Array(Double.NaN, 0.1, 0.2, 0.3)),
      (2L, Array(0.4, 0.5, 0.6, 0.7)),
      (3L, Array(0.8, 0.9, 1.0, 1.1)),
      (4L, Array(1.2, 1.3, 1.4, 1.5))
    ).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.opqQuantizers(poisoned, m = 2, ksub = 2, iters = 2)
    }
    assert(e.getMessage.contains("non-finite"),
      s"expected the non-finite objective error, got: ${e.getMessage}")
  }

  test("rotated: a NULL embedding stays NULL and the downstream fit path filters it") {
    val emb = Similarity.l2Normalized(Tables.embeddings(spark, TestSpark.sfDir))
      .select(col("vec_id"), col("embedding"))
    val dim = emb.head().getSeq[Double](1).length
    val withNull = emb.unionByName(
      Seq(99999L).toDF("vec_id")
        .withColumn("embedding", lit(null).cast("array<double>")))
    val ident = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val rot = Similarity.rotated(withNull, ident)
    // without the NULL guard each element would be NULL inside a
    // NON-null array — isNotNull filters stop dropping the row and the
    // fit collector NPEs on getSeq(...).toArray
    assert(rot.filter(col("vec_id") === 99999L).head().isNullAt(1),
      "rotated must preserve the NULL-embedding seam, not emit array(NULL,…)")
    val books = Similarity.pqCodebooks(rot, m = 8, ksub = 16)
    assert(books.length === 8,
      "fit over a rotated corpus containing a NULL embedding must succeed")
  }

  test("s29 gate: the encode-quality ladder — OPQ+residual <= residual <= raw ADC error at equal bytes") {
    // the three encoders at the IDENTICAL m × ksub byte budget, each
    // measured as mean |ADC − true L2²| to query 0 over the corpus:
    // raw PQ (s19/s20), coarse-residual PQ (s21), and the faiss
    // OPQ+IVF+residual-PQ default (s29 — rotation redistributes
    // within-block variance BEFORE the residual fit). Each rung must
    // not be worse than the one above it on this corpus.
    val emb = Similarity.l2Normalized(
      Tables.embeddings(spark, "/root/testdata/sf0.1"))
    val m = 8
    val dim = 64
    def adcErr(frame: org.apache.spark.sql.DataFrame,
        cents: Array[Array[Double]],
        books: Array[Array[Array[Double]]], residual: Boolean): Double = {
      val dsub = books(0)(0).length
      val vecs = frame.select(col("vec_id"),
          Similarity.asDouble(col("embedding")))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val q = vecs(0L)
      val assign: Map[Long, Int] =
        if (residual) Similarity.ivfAssign(frame, cents)
          .select("vec_id", "centroid_id").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        else Map.empty
      val codesDf =
        if (residual) Similarity.pqEncodeResidual(frame, cents, books)
        else Similarity.pqEncode(frame, books)
      val codes = codesDf.select("vec_id", "pq_code").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val errs = vecs.keys.filter(_ != 0L).map { id =>
        val v = vecs(id)
        val trueD = v.zip(q).map { case (x, y) => (x - y) * (x - y) }.sum
        val qEff =
          if (residual) q.zip(cents(assign(id))).map { case (x, c) => x - c }
          else q
        val adc = books.zipWithIndex.map { case (book, j) =>
          val c = book(codes(id)(j))
          c.zip(qEff.slice(j * dsub, (j + 1) * dsub))
            .map { case (x, y) => (x - y) * (x - y) }.sum
        }.sum
        math.abs(adc - trueD)
      }
      errs.sum / errs.size
    }
    val rawBooks = Similarity.pqCodebooks(emb, m = m, ksub = 16)
    val rawErr = adcErr(emb, Array.empty, rawBooks, residual = false)
    val (cents, resBooks) = Similarity.annQuantizers(emb, residual = true)
    val resErr = adcErr(emb, cents, resBooks, residual = true)
    val (r, _) = Similarity.opqQuantizers(emb, m = m, ksub = 16)
    val rot = Similarity.rotated(emb, r)
    val (rotCents, rotBooks) = Similarity.annQuantizers(rot, residual = true)
    val opqResErr = adcErr(rot, rotCents, rotBooks, residual = true)
    info(f"ADC error ladder: raw $rawErr%.6f >= residual $resErr%.6f >= " +
      f"OPQ+residual $opqResErr%.6f")
    assert(resErr < rawErr, "residual encoding must beat raw at equal bytes")
    assert(opqResErr <= resErr * 1.02,
      f"OPQ+residual $opqResErr%.6f materially worse than residual " +
        f"$resErr%.6f — the rotation must not hurt the composed encoder")
    assert(dim == r.length)

    // SQ8 rung (s31): d bytes a vector instead of m — 8× the budget
    // must buy a strictly lower approximation error than the BEST
    // 8-byte encoder (this is the bytes-vs-recall tradeoff statement
    // the codec family exists to offer, measured not assumed)
    val (mins, maxs) = Similarity.sqBounds(emb)
    val steps = mins.indices.map(i => (maxs(i) - mins(i)) / 255.0)
    val sqCodes = Similarity.sqEncode(emb, mins, maxs)
      .select("vec_id", "sq_code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val vecsAll = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qv = vecsAll(0L)
    val sqErrs = vecsAll.keys.filter(_ != 0L).map { id =>
      val v = vecsAll(id)
      val code = sqCodes(id)
      val trueD = v.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum
      val approxD = mins.indices.map { i =>
        val diff = mins(i) + code(i) * steps(i) - qv(i); diff * diff
      }.sum
      math.abs(approxD - trueD)
    }
    val sqErr = sqErrs.sum / sqErrs.size
    info(f"SQ8 (64 B) ADC error $sqErr%.6f vs best 8-byte $opqResErr%.6f")
    assert(sqErr < opqResErr,
      f"SQ8 $sqErr%.6f must beat every 8-byte encoder at 8x the bytes")
  }

  test("rotated: fused mat-vec is bit-identical to the aggregate∘zip_with formulation") {
    // the fused kernel replaces d aggregate(zip_with(v, row), 0, +)
    // folds per row; both are the ascending-index left fold, so every
    // output double must be BIT-equal — fitted quantizers, index
    // fingerprints, and the s29 ladder goldens all hang off this
    val emb = Similarity.l2Normalized(
      Tables.embeddings(spark, TestSpark.sfDir))
    val (r, _) = Similarity.opqQuantizers(emb, m = 8, ksub = 16)
    val v = Similarity.asDouble(col("embedding"))
    val hofRows = r.toIndexedSeq.map { row =>
      val rl = array(row.toIndexedSeq.map(lit(_)): _*)
      aggregate(zip_with(v, rl, (x, w) => x * w), lit(0.0), (a, x) => a + x)
    }
    val both = Similarity.rotated(emb, r)
      .select(col("vec_id"), col("embedding").as("fused"))
      .join(emb.select(col("vec_id"),
        when(v.isNotNull, array(hofRows: _*)).as("hof")), Seq("vec_id"))
    val mismatches = both
      .filter(not(col("fused") <=> col("hof"))).count()
    assert(mismatches === 0L,
      "fused mat-vec diverged from the HOF left-fold on some row")
  }

  test("s31 gate: SQ8 hits = exact ∩ decoded-L2 candidates; half-level reconstruction; full rerank is exact (sf0.1)") {
    // the s19 identity argument, SQ8 form: the rerank leg is exact
    // cosine over the decoded-L2 candidate set, so measured recall
    // EQUALS candidate coverage of the exact top-k — and the candidate
    // set is recomputed DRIVER-SIDE from the codes and bounds with the
    // same fold order, cross-checking the in-row decode expression
    // against an independent implementation.
    val emb = Similarity.l2Normalized(
      Tables.embeddings(spark, "/root/testdata/sf0.1"))
    val k = 20
    val rerank = 4
    val (mins, maxs) = Similarity.sqBounds(emb)
    val dim = mins.length
    val steps = mins.indices.map(i => (maxs(i) - mins(i)) / 255.0)
    val codes = Similarity.sqEncode(emb, mins, maxs)
      .select("vec_id", "sq_code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val vecs = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // reconstruction bound: the fit sample is the whole corpus at this
    // sf (4096-row cap > 2000 rows), so every value is in-range and
    // decode∘encode errs at most half a level per dimension
    vecs.foreach { case (id, v) =>
      val code = codes(id)
      var i = 0
      while (i < dim) {
        val dec = mins(i) + code(i) * steps(i)
        assert(math.abs(dec - v(i)) <= steps(i) / 2 + 1e-9,
          s"dim $i of vec $id breaks the half-level reconstruction bound")
        i += 1
      }
    }
    var predictedHits = 0
    var measuredHits = 0
    Seq(0L, 400L, 800L, 1200L, 1600L).foreach { qid =>
      val q = vecs(qid)
      val cands = codes.iterator.collect { case (id, code) if id != qid =>
        var d = 0.0
        var i = 0
        while (i < dim) {
          val diff = mins(i) + code(i) * steps(i) - q(i); d += diff * diff
          i += 1
        }
        id -> d
      }.toSeq.sortBy { case (id, d) => (d, id) }.take(rerank * k)
        .map(_._1).toSet
      val exact = Similarity.topKCosine(emb, qid, k).collect().map(_.getLong(0))
      val sq = Similarity.sqTopK(emb, qid, k, mins, maxs, rerank)
        .collect().map(_.getLong(0)).toSet
      predictedHits += exact.count(cands)
      measuredHits += exact.count(sq)
    }
    assert(measuredHits === predictedHits,
      s"SQ8 measured hits $measuredHits != decoded-L2 candidate coverage $predictedHits")
    val recall = measuredHits.toDouble / (5 * k)
    info(f"SQ8 rerank=4 recall $recall%.3f")
    // d-byte codes at 64 dims are near-lossless: the candidate cut is
    // effectively the exact cut (measured 1.00 on this corpus; gate at
    // 0.9 for fit-sample jitter headroom)
    assert(recall >= 0.9, s"SQ8 recall $recall below the near-lossless floor")
    // rerank*k covering the corpus degenerates to the exact scan
    val exactPairs = Similarity.topKCosine(emb, 0L, k).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.sqTopK(emb, 0L, k, mins, maxs, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === exactPairs,
      "rerank*k >= N must reproduce the exact scan bit-for-bit")
  }

  test("s32 gate: matryoshka hits = exact ∩ prefix-cosine candidates; dPrefix = dim is exact (sf0.1)") {
    // the s19/s31 identity argument, prefix-cosine form: the rerank leg
    // is exact full-dim cosine over the prefix candidate set, so
    // measured recall EQUALS candidate coverage — and the candidates
    // are recomputed DRIVER-SIDE with the same fold order, try_divide
    // totalization, HALF_UP 6-d.p. round, and −0.0-normalized sort key.
    val emb = Similarity.l2Normalized(
      Tables.embeddings(spark, "/root/testdata/sf0.1"))
    val k = 20
    val rerank = 4
    val p = 16
    val vecs = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def prefixCos(a: Array[Double], q: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nq = 0.0; var i = 0
      while (i < p) { d += a(i) * q(i); na += a(i) * a(i); nq += q(i) * q(i); i += 1 }
      val denom = math.sqrt(na) * math.sqrt(nq)
      val raw = if (denom == 0.0) 0.0 else d / denom
      val safe = if (raw.isNaN) 0.0 else raw
      java.math.BigDecimal.valueOf(safe)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    var predictedHits = 0
    var measuredHits = 0
    Seq(0L, 400L, 800L, 1200L, 1600L).foreach { qid =>
      val q = vecs(qid)
      val cands = vecs.iterator.collect { case (id, v) if id != qid =>
        id -> prefixCos(v, q)
      }.toSeq.sortBy { case (id, c) => (-c + 0.0, id) }.take(rerank * k)
        .map(_._1).toSet
      val exact = Similarity.topKCosine(emb, qid, k).collect().map(_.getLong(0))
      val got = Similarity.matryoshkaTopK(emb, qid, k, p, rerank)
        .collect().map(_.getLong(0)).toSet
      predictedHits += exact.count(cands)
      measuredHits += exact.count(got)
    }
    assert(measuredHits === predictedHits,
      s"matryoshka hits $measuredHits != prefix candidate coverage $predictedHits")
    val recall = measuredHits.toDouble / (5 * k)
    info(f"matryoshka p=16/64 rerank=4 recall $recall%.3f")
    // these embeddings are NOT MRL-trained — the prefix carries 1/4 of
    // generic dimensions, so only a usable-share floor is claimed (the
    // s3/s4 convention; measured 0.32 here — the identity above, not
    // this number, is the engine's contract)
    assert(recall >= 0.3, s"matryoshka recall $recall degenerate for p=16")
    // dPrefix = dim: the prefix ranking IS the exact ranking, so any
    // rerank returns the exact top-k bit-for-bit
    val dim = vecs(0L).length
    val exactPairs = Similarity.topKCosine(emb, 0L, k).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.matryoshkaTopK(emb, 0L, k, dim, rerank = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === exactPairs,
      "dPrefix = dim must reproduce the exact scan bit-for-bit")
  }

  test("null and zero embeddings never claim ADC top-k slots") {
    import spark.implicits._
    // id 2 is NULL (null code → null adist; ASC sorts nulls FIRST, so
    // without the tail filter it would burn a rerank slot), id 3 is the
    // all-zero vector (cosine 0/0 = NaN → nanvl 0.0), id 4 is opposite
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val emb = Similarity.l2Normalized(df)
    val books = Similarity.pqCodebooks(emb, m = 2, ksub = 2)
    val top = Similarity.pqTopK(emb, 0L, k = 2, books, rerank = 3).collect()
    assert(top.map(_.getLong(0)).toSeq === Seq(1L, 3L),
      s"expected (similar, zero-vector-at-0.0), got ${top.toSeq}")
    assert(top(1).getDouble(1) === 0.0,
      "zero vector must score exactly 0.0 (NaN guarded)")
    assert(!top.exists(_.getLong(0) == 2L), "null embedding leaked into top-k")
  }

  test("s23 gate: batched IVFADC == indexed single-query path per query; one scan serves all (sf0.1)") {
    val emb = Similarity.l2Normalized(
      Tables.embeddings(spark, "/root/testdata/sf0.1"))
    val k = 20
    val rerank = 4
    val nProbe = 4
    val nLists = 16
    val cents = Similarity.ivfCentroids(emb, nCentroids = nLists)
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16)
    val dir = graft.TestSpark.tempDir("graft_ivfadc_batch")
    Similarity.pqEncode(Similarity.ivfAssign(emb, cents), books)
      .select("vec_id", "centroid_id", "pq_code")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(dir)
    val index = spark.read.parquet(dir)
    val qids = Seq(0L, 400L, 800L, 1200L, 1600L)
    val queries = emb.filter(col("vec_id").isin(qids.map(Long.box): _*))
    val batch = Similarity.ivfAdcTopKBatch(index, emb, queries, k, cents,
      books, nProbe, rerank)
    val rows = batch.collect()

    // 1) per-query BIT-equality with the single-query indexed path:
    //    same probe ranking, ADC arithmetic, tie rules, rerank
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    qids.foreach { qid =>
      val single = Similarity.ivfAdcTopKIndexed(index, emb, qid, k, cents,
          books, nProbe, rerank).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
      val got = byQ.getOrElse(qid, Array.empty[org.apache.spark.sql.Row])
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
      assert(got === single,
        s"batch result for query $qid diverges from the indexed path")
    }

    // 2) the s20 two-stage coverage identity PER QUERY: a true top-k
    //    neighbor is returned iff its list is probed AND it survives
    //    the ADC cut (driver-recomputed from the same quantizers)
    val dsub = books(0)(0).length
    val assign = Similarity.ivfAssign(emb, cents)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val codes = Similarity.pqEncode(emb, books).select("vec_id", "pq_code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    qids.foreach { qid =>
      val qArr = emb.filter(col("vec_id") === qid)
        .select(Similarity.asDouble(col("embedding"))).collect()(0)
        .getSeq[Double](0).toArray
      val probed = cents.zipWithIndex.sortBy { case (c, _) =>
        c.zip(qArr).map { case (x, y) => (x - y) * (x - y) }.sum
      }.take(nProbe).map(_._2).toSet
      val luts = books.zipWithIndex.map { case (book, j) =>
        val qb = qArr.slice(j * dsub, (j + 1) * dsub)
        book.map(c => c.zip(qb).map { case (x, y) => (x - y) * (x - y) }.sum)
      }
      val cands = codes.iterator.collect {
        case (id, code) if id != qid && probed(assign(id)) =>
          id -> luts.zipWithIndex
            .map { case (lut, j) => lut(code(j)) }.reduce(_ + _)
      }.toSeq.sortBy { case (id, d) => (d, id) }.take(rerank * k)
        .map(_._1).toSet
      val exact = Similarity.topKCosine(emb, qid, k).collect().map(_.getLong(0))
      val got = byQ(qid).map(_.getAs[Long]("vec_id")).toSet
      assert(exact.count(got) === exact.count(cands),
        s"query $qid: measured hits != two-stage coverage prediction")
    }

    // 3) ONE scan of the index serves every query (no per-query job
    //    loop) — the FINAL adaptive plan (the toString also prints the
    //    Initial Plan section; cut it) references the index exactly
    //    once, with the probed lists partition-pruned at that scan by
    //    the broadcast join's dynamic pruning
    val plan = batch.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    val scanLines = plan.split("\n").filter(l =>
      l.contains("Location") && l.contains(new java.io.File(dir).getName))
    assert(scanLines.length === 1,
      s"expected exactly 1 index scan, found ${scanLines.length} in:\n$plan")
    assert(scanLines(0).contains("dynamicpruning"),
      "probed lists must partition-prune the index scan (DPP) — got:\n" +
        scanLines(0))

    // 4) empty query set → empty result, same schema
    val empty = Similarity.ivfAdcTopKBatch(index, emb,
      queries.limit(0), k, cents, books, nProbe, rerank)
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq === Seq("qid", "vec_id", "sim"))
  }

  test("s23 degeneracy: full probe + corpus-covering rerank reproduces the exact scan per query") {
    val emb = Similarity.l2Normalized(Tables.embeddings(spark, TestSpark.sfDir))
    val n = emb.count().toInt
    val k = 10
    val nLists = 8
    val cents = Similarity.ivfCentroids(emb, nCentroids = nLists)
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16)
    val index = Similarity.pqEncode(Similarity.ivfAssign(emb, cents), books)
      .select("vec_id", "centroid_id", "pq_code")
    val qids = Seq(0L, 100L)
    val queries = emb.filter(col("vec_id").isin(qids.map(Long.box): _*))
    val batch = Similarity.ivfAdcTopKBatch(index, emb, queries, k, cents,
        books, nProbe = nLists, rerank = n / k + 1).collect()
      .groupBy(_.getAs[Long]("qid"))
    qids.foreach { qid =>
      val exact = Similarity.topKCosine(emb, qid, k).collect()
        .map(_.getLong(0)).toSeq
      val got = batch(qid).map(_.getAs[Long]("vec_id")).toSeq
      assert(got === exact,
        s"query $qid: nProbe=nLists ∧ rerank·k ≥ N must be the exact scan")
    }
  }

  test("int8 quantization: bounded reconstruction error, cosine preserved") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir).limit(200)
    val dq = Similarity.dequantizeInt8(Similarity.quantizeInt8(emb))
    // per-element error ≤ q_scale/2 (+ float32 input noise)
    val overBound = org.apache.spark.sql.functions.zip_with(
      Similarity.asDouble(col("embedding")), col("embedding_dq"),
      (a, b) => abs(a - b) > col("q_scale") * 0.5 + lit(1e-6))
    val viol = dq.filter(
      org.apache.spark.sql.functions.exists(overBound, b => b)).count()
    assert(viol === 0, s"$viol vectors exceed the quantization error bound")
    // cosine(original, reconstructed) stays ≈ 1
    val minCos = dq.select(org.apache.spark.sql.functions.min(
      Similarity.cosine(Similarity.asDouble(col("embedding")),
        col("embedding_dq")))).collect()(0).getDouble(0)
    assert(minCos > 0.995, s"quantization destroyed similarity: min cosine $minCos")
    // tinyint payload
    assert(dq.schema("q").dataType.simpleString === "array<tinyint>")
  }

  test("bucketed near-dup pairs: exact precision, recall ≥ the S-curve bound") {
    // The synthetic embeddings have no high-sim pairs (max ≈ 0.45), so
    // plant them: a perturbed copy of each vector at vec_id + 10000. The
    // shared tiny delta keeps cos(original, copy) ≈ 0.99+ while cross
    // sims stay low — exact pairs at τ=0.9 are exactly the planted ones.
    val base = Tables.embeddings(spark, TestSpark.sfDir)
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
    val planted = base.select((col("vec_id") + 10000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => (x + (i % 3 - 1) * lit(0.01f)).cast("float")).as("embedding"))
    val corpus = base.unionByName(planted)

    val tau = 0.9
    val exact = Similarity.nearDupPairs(corpus, idCap = 20000L, threshold = tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 150, s"planting failed: only ${exact.size} exact pairs")

    val nBits = 8
    val nTables = Similarity.recommendedTables(tau, targetRecall = 0.95, nBits)
    val bucketed = Similarity.nearDupPairsBucketed(corpus, tau, nBits, nTables)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // precision is exact by construction: the verify stage recomputes the
    // true cosine, so the bucketed result must be a subset of exact
    assert((bucketed -- exact).isEmpty,
      s"bucketed returned non-pairs: ${(bucketed -- exact).take(5)}")
    // recall ≥ the recommendedTables design point (0.95 at the τ=0.9
    // boundary; planted sims sit near 0.99 where the bound is tighter)
    val recall = (bucketed & exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"bucketed recall $recall below S-curve bound 0.95")
  }

  test("bucketed delta round ≡ full bucketed run restricted to delta-touching pairs") {
    // bucketing is a pure function of the vector under frozen seeded
    // hyperplanes, so the incremental round must return EXACTLY the full
    // run's delta-touching pairs — an identity, not a recall bound
    val base = Tables.embeddings(spark, TestSpark.sfDir)
      .filter(col("vec_id") < 300).select("vec_id", "embedding")
    // plant near-dups straddling the split so cross pairs exist
    val planted = base.filter(col("vec_id") < 100)
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x + (i % 3 - 1) * lit(0.01f)).cast("float")).as("embedding"))
    val corpus = base
    val delta = base.filter(col("vec_id") >= 200)
      .select((col("vec_id") + 20000L).as("vec_id"), col("embedding"))
      .unionByName(planted)
    val tau = 0.35
    val inc = Similarity.nearDupPairsBucketedDelta(corpus, delta, tau,
        nBits = 2, nTables = 6)
      .collect().map(_.toString).toSeq
    val fullRows = Similarity.nearDupPairsBucketed(corpus.unionByName(delta), tau,
        nBits = 2, nTables = 6)
      .filter(col("id_a") >= 10000L || col("id_b") >= 10000L)
      .orderBy("id_a", "id_b").collect()
    assert(inc === fullRows.map(_.toString).toSeq)
    // the planted copies guarantee at least one corpus-delta cross pair
    assert(fullRows.exists(r => r.getLong(0) < 10000L && r.getLong(1) >= 10000L),
      "expected a planted corpus-delta cross pair")
    assert(fullRows.exists(r => r.getLong(0) >= 10000L),
      "expected a delta-internal pair")
  }

  test("recommendedTables inverts the S-curve sensibly") {
    // higher recall target or lower threshold ⇒ more tables
    val t1 = Similarity.recommendedTables(0.9, 0.95, nBits = 8)
    assert(t1 >= 2 && t1 <= 32, s"unexpected table count $t1")
    assert(Similarity.recommendedTables(0.9, 0.99, 8) >= t1)
    assert(Similarity.recommendedTables(0.8, 0.95, 8) >= t1)
    assert(Similarity.recommendedTables(0.9, 0.95, 12) >= t1)
  }

  test("IVF coarse quantizer trains on a bounded, deterministic sample") {
    // synthetic 20k-row corpus (deterministic expressions, no RNG)
    val big = spark.range(20000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => cos(col("id") * 7 + i).cast("float")).as("embedding"))
    val target = 4L * 100
    val fit = Similarity.ivfFitSample(big, nCentroids = 4, pointsPerCentroid = 100)
    val n = fit.count()
    assert(n < 20000, "sample did not shrink the fit input")
    assert(n <= 2 * target, s"fit sample $n far above target $target")
    assert(n >= target / 2, s"fit sample $n too small to train on")
    // deterministic for a fixed seed
    val again = Similarity.ivfFitSample(big, 4, pointsPerCentroid = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(fit.select("vec_id").collect().map(_.getLong(0)).toSet === again)
    // small corpora pass through untouched — sf-level results unchanged
    val small = big.limit(300)
    assert(Similarity.ivfFitSample(small, 4, pointsPerCentroid = 100).count() === 300)
    // the sample is a single TakeOrdered pass — no full sort shuffle
    val plan = fit.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"fit sample is not a top-k single pass:\n$plan")
  }

  test("ivfFitSample launches no job of its own (no corpus count pre-pass)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // poison input: ANY job touching the data throws — so an eager
    // count()/sample inside ivfFitSample would fail the construction
    val poison = spark.createDataFrame(
      spark.sparkContext.parallelize(1 to 8).map { i =>
        if (i >= 0) throw new RuntimeException("ivfFitSample ran an eager job")
        Row(0L, Seq(0.0f))
      }, schema)
    val fit = Similarity.ivfFitSample(poison, 4, 100) // must not touch data
    // only a downstream action evaluates the corpus
    intercept[org.apache.spark.SparkException] { fit.count() }
  }

  test("as-of carries the latest build ROW whole — null fields stay null") {
    val spark2 = spark
    import spark2.implicits._
    val build = Seq(
      ("k", 1L, Some(20.0), 0.5),
      ("k", 2L, None: Option[Double], 1.0) // latest row: temp is null
    ).toDF("key", "ts", "temperature", "precipitation")
    val probe = Seq(("k", 3L)).toDF("key", "ts")
    val out = AsOf.asofJoin(probe, build, Seq("key"), "ts",
      Seq("temperature", "precipitation")).collect()(0)
    // per-column last(ignoreNulls) would resurrect 20.0 from ts=1 and mix
    // rows; the contract is the ts=2 row verbatim: (null, 1.0)
    assert(out.isNullAt(out.fieldIndex("asof_temperature")),
      s"stale temperature resurrected: $out")
    assert(out.getAs[Double]("asof_precipitation") === 1.0)
  }

  test("as-of join picks the latest at-or-earlier build row per key") {
    val build = Seq(
      ("a", "2024-01-01 00:00:00", 1.0),
      ("a", "2024-01-01 02:00:00", 2.0),
      ("b", "2024-01-01 01:00:00", 5.0)
    ).toDF("k", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val probe = Seq(
      ("a", "2024-01-01 01:30:00"), // → 00:00 value 1.0
      ("a", "2024-01-01 02:00:00"), // tie: inclusive → 2.0
      ("b", "2024-01-01 00:30:00"), // before any build row → null
      ("c", "2024-01-01 09:00:00")  // no build key → null
    ).toDF("k", "ts").withColumn("ts", col("ts").cast("timestamp"))

    val got = AsOf.asofJoin(probe, build, Seq("k"), "ts", Seq("v"))
      .orderBy("k", "ts")
      .select("k", "asof_v").as[(String, Option[Double])].collect()
    assert(got === Array(("a", Some(1.0)), ("a", Some(2.0)), ("b", None), ("c", None)))
  }

  test("as-of tolerance nulls stale matches; all carries null together") {
    val spark2 = spark
    import spark2.implicits._
    val build = Seq(
      ("a", "2024-01-01 00:00:00", 1.0, "x"),
      ("b", "2024-01-01 01:00:00", 5.0, "y")
    ).toDF("k", "ts", "v", "tag").withColumn("ts", col("ts").cast("timestamp"))
    val probe = Seq(
      ("a", "2024-01-01 00:20:00"), // 20 min old → fresh at 30-min bound
      ("a", "2024-01-01 02:00:00"), // 2 h old → stale, BOTH carries null
      ("b", "2024-01-01 01:30:00")  // exactly 30 min → inclusive bound
    ).toDF("k", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val got = AsOf.asofJoinTolerant(probe, build, Seq("k"), "ts",
        Seq("v", "tag"), toleranceSeconds = 1800L)
      .orderBy("k", "ts")
      .select("k", "asof_v", "asof_tag")
      .as[(String, Option[Double], Option[String])].collect()
    assert(got === Array(
      ("a", Some(1.0), Some("x")),
      ("a", None, None),
      ("b", Some(5.0), Some("y"))))
    // helper column must not leak
    assert(!AsOf.asofJoinTolerant(probe, build, Seq("k"), "ts",
      Seq("v"), 1800L).columns.exists(_.contains("__asof_build_ts")))
  }

  test("lastEventBefore matches a hand-computed case") {
    val events = Seq(
      (1L, "2024-01-01 00:00:00", 7L, "purchase"),
      (2L, "2024-01-01 01:00:00", 7L, "click"),
      (3L, "2024-01-01 02:00:00", 7L, "purchase"),
      (4L, "2024-01-01 03:00:00", 7L, "click"),
      (5L, "2024-01-01 00:30:00", 8L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = AsOf.lastEventBefore(events, "click", "purchase")
      .as[(Long, Option[java.sql.Timestamp])].collect().toMap
    assert(got(2L).get.toString.startsWith("2024-01-01 00:00:00"))
    assert(got(4L).get.toString.startsWith("2024-01-01 02:00:00"))
    assert(got(5L).isEmpty)
  }

  test("mmrRerank demotes a near-duplicate of an already-selected result") {
    // 1 and 3 are mirror images around the query (equal relevance,
    // 0.993884 at 6 d.p.); 2 is an exact clone of 1. MMR at λ=0.5 picks
    // 1 (rel tie → lowest id), then 3 (the clone's penalty is sim=1.0,
    // strictly worse than 3's 0.975610 at equal relevance), then 2.
    val vecs = Seq(
      (0L, Array(1.0f, 1.0f)),            // query
      (1L, Array(1.0f, 0.8f)),
      (2L, Array(1.0f, 0.8f)),            // clone of 1
      (3L, Array(0.8f, 1.0f))             // mirror of 1
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(vecs, queryId = 0L, candK = 3,
        selectK = 3, lambda = 0.5)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(got === Seq(1L, 3L, 2L))
    // λ = 1 is pure relevance: the clone comes straight back
    val pure = Similarity.mmrRerank(vecs, queryId = 0L, candK = 3,
        selectK = 3, lambda = 1.0)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(pure === Seq(1L, 2L, 3L))
  }

  test("assignToCentroids picks nearest centroid, ties break to lowest id") {
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f)),   // → centroid 0 (identical direction)
      (11L, Array(0.0f, 5.0f)),   // → centroid 1
      (12L, Array(1.0f, 1.0f))    // equidistant from both → lowest id 0
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(2.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("centroid_id", "cv")
    val got = Similarity.assignToCentroids(vecs, cents).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(10L) === ((0L, 1.0)))
    assert(got(11L) === ((1L, 1.0)))
    assert(got(12L)._1 === 0L)
    assert(math.abs(got(12L)._2 - 0.707107) < 1e-9) // cos 45°, rounded 6 d.p.
  }

  test("data-defined oracle family: batched raw/residual == single-query data-defined per query") {
    // the family relation that makes the s21/s23/s25 oracle probes
    // trustworthy together: the roundTo=6 batch paths must be
    // BIT-identical per query to the single-query data-defined paths
    // (same rounded probe ranking, codes, LUTs, cuts, rerank)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val (cents, books) =
      Similarity.dataDefinedQuantizers(emb, nCents = 16, m = 8)
    val k = 10; val nProbe = 4; val rerank = 4
    val qids = Seq(0L, 100L, 300L)
    val queries = emb.filter(col("vec_id").isin(qids.map(Long.box): _*))
    val index = Similarity.pqEncode(
        Similarity.ivfAssign(emb, cents, roundTo = 6), books, roundTo = 6)
      .select("vec_id", "centroid_id", "pq_code")
    val batch = Similarity.ivfAdcTopKBatch(index, emb, queries, k, cents,
        books, nProbe, rerank, roundTo = 6)
      .collect().groupBy(_.getAs[Long]("qid"))
    qids.foreach { qid =>
      val single = Similarity.ivfAdcTopK(emb, qid, k, cents, books,
          nProbe = nProbe, rerank = rerank, roundTo = 6).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = batch(qid)
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
      assert(got === single,
        s"raw dd batch diverges from the single-query dd path for $qid")
    }
    val rIndex = Similarity.pqEncodeResidual(emb, cents, books, roundTo = 6)
      .select("vec_id", "centroid_id", "pq_code")
    val rBatch = Similarity.ivfAdcResidualTopKBatch(rIndex, emb, queries,
        k, cents, books, nProbe, rerank, roundTo = 6)
      .collect().groupBy(_.getAs[Long]("qid"))
    qids.foreach { qid =>
      val single = Similarity.ivfAdcResidualTopK(emb, qid, k, cents, books,
          nProbe = nProbe, rerank = rerank, roundTo = 6).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = rBatch(qid)
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
      assert(got === single,
        s"residual dd batch diverges from the single-query dd path for $qid")
    }
  }

  test("fused cosine kernel: BIT-identical to the HOF formulation, degenerate contract included") {
    // the fused kernel replaced three interpreted folds on every
    // exact-scan path — its contract is bit-equality with the retained
    // HOF twin on real data AND on every degenerate-input class the
    // HOF's coalesce∘nanvl∘try_divide chain totalizes
    val emb = Tables.embeddings(spark, TestSpark.sfDir).limit(200)
    val q = emb.filter(col("vec_id") === 0L)
      .select(Similarity.asDouble(col("embedding")).as("qv"))
      .collect()(0).getSeq[Double](0).toArray
    val qLit = org.apache.spark.sql.functions.array(
      q.toIndexedSeq.map(lit(_)): _*)
    val both = emb.select(
      Similarity.cosine(Similarity.asDouble(col("embedding")), qLit)
        .as("fused"),
      Similarity.cosineHof(Similarity.asDouble(col("embedding")), qLit)
        .as("hof")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"fused ${r.getDouble(0)} != hof ${r.getDouble(1)}")
    }
    // degenerate classes: zero vector, NaN element, null element,
    // NULL array, length mismatch — all must score exactly 0.0 on both
    val deg = Seq(
      (Array(0.0, 0.0), Array(1.0, 2.0)),          // zero norm
      (Array(Double.NaN, 1.0), Array(1.0, 2.0)),   // NaN quotient
      (Array(1.0, 2.0), Array(1.0, 2.0, 3.0))      // length mismatch
    ).toDF("a", "b")
      .union(Seq((Array[java.lang.Double](1.0, null), // null element
        Array[java.lang.Double](1.0, 2.0))).toDF("a", "b")
        .select(col("a").cast("array<double>"), col("b").cast("array<double>")))
      .union(Seq((null: Array[java.lang.Double],      // NULL array
        Array[java.lang.Double](1.0, 2.0))).toDF("a", "b")
        .select(col("a").cast("array<double>"), col("b").cast("array<double>")))
    val degOut = deg.select(
      Similarity.cosine(col("a"), col("b")).as("fused"),
      Similarity.cosineHof(col("a"), col("b")).as("hof")).collect()
    degOut.foreach { r =>
      assert(r.getDouble(0) === 0.0 && r.getDouble(1) === 0.0,
        s"degenerate input scored (${r.getDouble(0)}, ${r.getDouble(1)})")
    }
  }

  test("adcSumIndexed kernel: per-list LUT selection matches the lookup chain; guards fail loudly") {
    val luts = Array(
      Array(Array(1.0, 2.0), Array(3.0, 4.0)),    // list 0: m=2, ksub=2
      Array(Array(10.0, 20.0), Array(30.0, 40.0))) // list 1
    val df = Seq((Seq(0, 1), 0), (Seq(1, 0), 1))
      .toDF("pq_code", "centroid_id")
    val got = df.select(graft.functions.Vectors.adcSumIndexed(
        col("pq_code"), col("centroid_id"), luts).as("s"))
      .orderBy("s").collect().map(_.getDouble(0)).toSeq
    assert(got === Seq(1.0 + 4.0, 20.0 + 30.0))
    // a short code (stale/foreign index) must fail loudly, never read
    // garbage distances
    val shortCode = Seq((Seq(0), 0)).toDF("pq_code", "centroid_id")
      .select(graft.functions.Vectors.adcSumIndexed(
        col("pq_code"), col("centroid_id"), luts))
    val e1 = intercept[Exception] { shortCode.collect() }
    assert(e1.toString.contains("adc_sum_indexed") ||
      Option(e1.getCause).exists(_.toString.contains("adc_sum_indexed")))
    // a foreign list id outside the LUT table must fail loudly too
    val badList = Seq((Seq(0, 1), 7)).toDF("pq_code", "centroid_id")
      .select(graft.functions.Vectors.adcSumIndexed(
        col("pq_code"), col("centroid_id"), luts))
    val e2 = intercept[Exception] { badList.collect() }
    assert(e2.toString.contains("adc_sum_indexed") ||
      Option(e2.getCause).exists(_.toString.contains("adc_sum_indexed")))
  }
}
