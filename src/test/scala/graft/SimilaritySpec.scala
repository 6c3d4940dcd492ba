package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.functions.VectorFunctions._

/** ANN semantics: vector primitives on crafted vectors; LSH recall
  * against the exact brute-force baseline on the sf0.001 corpus.
  */
class SimilaritySpec extends AnyFunSuite with SparkFixture {

  test("dot/norm/cosine on known vectors") {
    import spark.implicits._
    val df = Seq((Seq(1f, 0f), Seq(0f, 1f)), (Seq(3f, 4f), Seq(3f, 4f)))
      .toDF("a", "b")
      .select(dot(col("a"), col("b")).as("d"),
              norm(col("a")).as("n"),
              cosine(col("a"), col("b")).as("c"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) == 0.0 && rows(0).getDouble(2) == 0.0)
    assert(rows(1).getDouble(1) == 5.0 && math.abs(rows(1).getDouble(2) - 1.0) < 1e-12)
  }

  test("cosine of a zero vector is 0, not NaN") {
    import spark.implicits._
    val c = Seq((Seq(0f, 0f), Seq(1f, 2f))).toDF("a", "b")
      .select(cosine(col("a"), col("b"))).head().getDouble(0)
    assert(c == 0.0)
  }

  test("brute force: k rows per probe, ranks contiguous, scores non-increasing") {
    val out = Similarity.annBruteforceTopK(spark, sf).cache()
    val perProbe = out.groupBy("probe_id").agg(
      count(lit(1)).as("n"), max("rank").as("maxr"),
      min("cosine_x1e6").as("worst"), max("cosine_x1e6").as("best"))
    assert(perProbe.filter(col("n") =!= 10 || col("maxr") =!= 10).count() == 0)
    assert(perProbe.filter(col("worst") > col("best")).count() == 0)
    out.unpersist()
  }

  test("banded LSH recalls >= 80% of exact top-10 on the test corpus") {
    val bf = Similarity.annBruteforceTopK(spark, sf).select("probe_id", "neighbor_id")
    val lsh = Similarity.annLshTopK(spark, sf).select("probe_id", "neighbor_id")
    val nBf = bf.count()
    val hit = bf.intersect(lsh).count()
    assert(nBf > 0 && hit.toDouble / nBf >= 0.8, s"recall ${hit.toDouble / nBf}")
  }

  test("IVF recalls >= 75% of exact top-10 at the default nProbeCells/nCells") {
    // The synthetic embeddings are near-uniform — the adversarial case
    // for partition ANN, where recall ≈ probed fraction (8/16 here
    // measures 0.80 exactly). The bound leaves headroom for KMeans
    // implementation drift, not for a semantics regression (the
    // all-cells test below pins exactness).
    val bf = Similarity.annBruteforceTopK(spark, sf).select("probe_id", "neighbor_id")
    val ivf = Similarity.annIvfTopK(spark, sf).select("probe_id", "neighbor_id")
    val nBf = bf.count()
    val hit = bf.intersect(ivf).count()
    assert(nBf > 0 && hit.toDouble / nBf >= 0.75, s"recall ${hit.toDouble / nBf}")
    graft.Caches.clear()
  }

  test("IVF probing every cell degenerates to exactly the brute-force result") {
    val bf = Similarity.annBruteforceTopK(spark, sf)
    val all = Similarity.annIvfTopK(spark, sf, nCells = 8, nProbeCells = 8)
    assert(bf.exceptAll(all).count() == 0 && all.exceptAll(bf).count() == 0)
    graft.Caches.clear()
  }

  test("topK: ties at the k-th score break on neighbor_id, k rows per group, keep columns in order") {
    import spark.implicits._
    // probe 1 has 5 candidates and a three-way tie across the k-th
    // score; probe 2 has fewer than k; probe 3 reuses probe 1's
    // neighbor ids with higher scores and must not displace them
    val scored = Seq(
      (1L, 7L, "a", 70L, 80L), (1L, 3L, "b", 30L, 80L), (1L, 5L, "c", 50L, 80L),
      (1L, 9L, "d", 90L, 90L), (1L, 1L, "e", 10L, 70L),
      (2L, 4L, "f", 40L, 10L), (2L, 2L, "g", 20L, 10L),
      (3L, 3L, "h", 31L, 100L), (3L, 7L, "i", 71L, 95L), (3L, 8L, "j", 81L, 95L),
      (3L, 6L, "k", 61L, 95L))
      .toDF("probe_id", "neighbor_id", "tag", "extra", "s")
    val out = Similarity.topK(scored, "probe_id", "s", 3, "tag", "extra")
    assert(out.columns.toSeq == Seq("probe_id", "rank", "neighbor_id", "tag", "extra", "s"))
    assert(Similarity.topK(scored, "probe_id", "s", 3, "extra", "tag").columns.toSeq ==
      Seq("probe_id", "rank", "neighbor_id", "extra", "tag", "s"))
    val got = out.orderBy("probe_id", "rank").as[(Long, Int, Long, String, Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      (1L, 1, 9L, "d", 90L, 90L), (1L, 2, 3L, "b", 30L, 80L), (1L, 3, 5L, "c", 50L, 80L),
      (2L, 1, 2L, "g", 20L, 10L), (2L, 2, 4L, "f", 40L, 10L),
      (3L, 1, 3L, "h", 31L, 100L), (3L, 2, 6L, "k", 61L, 95L), (3L, 3, 7L, "i", 71L, 95L)))
  }

  test("ann_ivf_topk and stream_ann_probe return the same rows") {
    val ivf = Similarity.annIvfTopK(spark, sf)
    val stream = Similarity.streamAnnProbe(spark, sf)
    assert(ivf.count() > 0)
    assert(ivf.exceptAll(stream).count() == 0 && stream.exceptAll(ivf).count() == 0)
    graft.Caches.clear()
  }

  test("knn_graph restricted to the probe subset equals brute-force ANN exactly") {
    val bf = Similarity.annBruteforceTopK(spark, sf, k = 10)
    val knn = Similarity.knnGraph(spark, sf, k = 10)
      .filter(col("vec_id") % 100 < 2)
      .select(col("vec_id").as("probe_id"), col("rank"),
              col("neighbor_id"), col("cosine_x1e6"))
    assert(bf.exceptAll(knn).count() == 0 && knn.exceptAll(bf).count() == 0)
  }

  test("knn_graph_ivf probing every cell degenerates to exactly the exact graph") {
    val exact = Similarity.knnGraph(spark, sf, k = 5)
    val all = Similarity.knnGraphIvf(spark, sf, k = 5, nCells = 8, nProbeCells = 8)
    assert(exact.exceptAll(all).count() == 0 && all.exceptAll(exact).count() == 0)
    graft.Caches.clear()
  }

  test("knn_graph_ivf recalls >= 70% of the exact graph at the default dial") {
    // Same adversarially-uniform-corpus caveat as the IVF ANN test:
    // recall ≈ probed fraction (8/16); the bound leaves KMeans-drift
    // headroom, the all-cells test above pins exactness.
    val exact = Similarity.knnGraph(spark, sf, k = 5).select("vec_id", "neighbor_id")
    val ivf = Similarity.knnGraphIvf(spark, sf, k = 5).select("vec_id", "neighbor_id")
    val nExact = exact.count()
    val hit = exact.intersect(ivf).count()
    assert(nExact > 0 && hit.toDouble / nExact >= 0.70, s"recall ${hit.toDouble / nExact}")
    graft.Caches.clear()
  }

  test("IVF-PQ probing every cell reproduces ann_pq_topk exactly") {
    // Composing IVF candidate pruning with PQ scoring must not change
    // the scorer: with all cells probed, candidates = the full corpus
    // and the ADC scores/tie-breaks are identical to plain PQ.
    val pq = Similarity.annPqTopK(spark, sf)
    val all = Similarity.annIvfPqTopK(spark, sf, nCells = 8, nProbeCells = 8)
    assert(pq.exceptAll(all).count() == 0 && all.exceptAll(pq).count() == 0)
    graft.Caches.clear()
  }

  test("IVF-PQ recall vs exact top-10 at the default dial; deterministic across reruns") {
    // Two approximations stack: IVF misses ≈ the unprobed fraction
    // (8/16 on the near-uniform adversarial corpus), PQ's ADC ranking
    // reorders near-ties (0.84-0.86 alone at the PQ16x8 default;
    // composed measures 0.81). The floor leaves drift headroom; the
    // all-cells test pins the scorer, the PQ tests pin the codes.
    val bf = Similarity.annBruteforceTopK(spark, sf).select("probe_id", "neighbor_id")
    val a = Similarity.annIvfPqTopK(spark, sf)
    val b = Similarity.annIvfPqTopK(spark, sf)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    val nBf = bf.count()
    val hit = bf.intersect(a.select("probe_id", "neighbor_id")).count()
    assert(nBf > 0 && hit.toDouble / nBf >= 0.70, s"recall ${hit.toDouble / nBf}")
    graft.Caches.clear()
  }

  test("embedding_quantize matches a plain-Scala int8 quantizer and bounds reconstruction error") {
    val out = Similarity.embeddingQuantize(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    assert(out.size == vecs.length)
    vecs.foreach { case (id, x) =>
      val s = x.map(v => math.abs(v)).max.toDouble
      val q = if (s > 0) x.map(v => math.floor(127.0 * v / s).toLong) else x.map(_ => 0L)
      val checksum = q.zipWithIndex.map { case (qi, i) => qi * (i + 1) }.sum
      assert(out(id) == (math.floor(s * 1e9).toLong, checksum, q.min, q.max), s"vec $id")
      // int8 range and dequantization error bound: |x - q*s/127| <= s/127
      assert(q.forall(v => v >= -127 && v <= 127))
      if (s > 0) x.zip(q).foreach { case (xi, qi) =>
        assert(math.abs(xi - qi * s / 127.0) <= s / 127.0 + 1e-9, s"vec $id element error")
      }
    }
    // the max-magnitude element quantizes to exactly ±127
    vecs.foreach { case (id, x) =>
      if (x.exists(_ != 0f)) assert(out(id)._4 == 127 || out(id)._3 == -127, s"vec $id boundary")
    }
  }

  test("kmeans_step equals a cross-join+window argmin road; every vector assigned") {
    val out = Similarity.kmeansStep(spark, sf, k = 8)
    val emb = Tables.embeddings(spark, sf)
    // independent assignment road: explicit cross join against the
    // seed frame, same fold order for d2, window argmin
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("c"))
    val d = emb.crossJoin(seeds)
      .select(col("vec_id"), col("embedding"), col("cid"),
        aggregate(
          zip_with(col("embedding"), col("c"),
            (x, cc) => (x.cast("double") - cc.cast("double")) * (x.cast("double") - cc.cast("double"))),
          lit(0.0), (acc, t) => acc + t).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("d2"), col("cid"))
    val assigned = d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val viaCross = assigned.groupBy(col("cid").as("cluster_id"))
      .agg(count(lit(1)).as("n_vectors"),
           call_function("graft_vec_sum_micro", col("embedding")).as("sums"))
      .select(col("cluster_id"), col("n_vectors"), posexplode(col("sums")))
      .select(col("cluster_id"), (col("pos") + 1).cast("long").as("pos"),
              col("n_vectors"), col("col").as("sum_micro"),
              expr("col div n_vectors").as("centroid_micro"))
    assert(out.exceptAll(viaCross).count() == 0 &&
           viaCross.exceptAll(out).count() == 0)
    // every vector lands in exactly one cluster
    val total = out.filter(col("pos") === 1).agg(sum("n_vectors")).head.getLong(0)
    assert(total == emb.count())
  }

  test("ann_sq8_topk: high recall vs exact, kernel == cast-road, codes tie to embedding_quantize") {
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val bf = Similarity.annBruteforceTopK(spark, sf).select("probe_id", "neighbor_id")
    val sq8 = Similarity.annSq8TopK(spark, sf)
    val nBf = bf.count()
    val hit = bf.intersect(sq8.select("probe_id", "neighbor_id")).count()
    // int8 keeps ~7 bits of mantissa per dim — far gentler than PQ's
    // 6 bits per 4-dim subspace; the floor leaves reorder headroom only
    assert(nBf > 0 && hit.toDouble / nBf >= 0.85, s"recall ${hit.toDouble / nBf}")
    // deterministic: pure function of the corpus
    val again = Similarity.annSq8TopK(spark, sf)
    assert(sq8.exceptAll(again).count() == 0 && again.exceptAll(sq8).count() == 0)
    // the fused byte kernel equals scoring the codes cast back to float
    // through the plain cosine kernel (scale cancellation made visible)
    val emb = Tables.embeddings(spark, sf)
    val withScale = emb.select(col("vec_id"), col("embedding"),
      array_max(transform(col("embedding"), v => abs(v))).cast("double").as("scale"))
    val codes = withScale.select(col("vec_id"), col("embedding"),
      when(col("scale") > 0,
        transform(col("embedding"),
          v => floor(lit(127.0) * v.cast("double") / col("scale")).cast("byte")))
        .otherwise(transform(col("embedding"), _ => lit(0).cast("byte"))).as("codes"))
    val parity = codes.limit(200).select(
        floor(call_function("graft_cosine_sq8", col("embedding"), col("codes")) * 1e6)
          .cast("long").as("fused"),
        floor(call_function("graft_cosine", col("embedding"),
          col("codes").cast("array<float>")) * 1e6).cast("long").as("cast_road"))
      .collect()
    assert(parity.nonEmpty)
    parity.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // the stored codes obey embedding_quantize's exact contract:
    // recomputed min/max/checksum match that operator's output
    val fromCodes = codes.select(col("vec_id"),
        expr("aggregate(zip_with(transform(codes, c -> CAST(c AS BIGINT)), sequence(1, size(codes)), (q, i) -> q * CAST(i AS BIGINT)), 0L, (a, x) -> a + x)").as("q_checksum"),
        expr("CAST(array_min(codes) AS BIGINT)").as("q_min"),
        expr("CAST(array_max(codes) AS BIGINT)").as("q_max"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val fromOp = Similarity.embeddingQuantize(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(fromCodes == fromOp,
      "sq8 codes must match embedding_quantize's checksum/min/max exactly")
  }

  test("hybrid_recall_report: fusion floors hold and the monitor reconciles with its own inputs") {
    val rows = Similarity.hybridRecallReport(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    graft.Caches.clear()
    assert(rows.keySet == Set("sem", "fused"))
    rows.foreach { case (tier, (hits, expected, recall)) =>
      assert(expected > 0 && hits <= expected, s"$tier: $hits/$expected")
      assert(recall == hits * 1000000L / expected, s"$tier recall arithmetic")
      // consistent with the IVF tier's >=75% floor: one pruned miss
      // can displace at most one fused slot per missing id
      assert(recall >= 750000L, s"$tier recall $recall below the IVF-consistent floor")
    }
  }

  test("embedding_whiten equals a single-node ABTT recompute; residual near-orthogonal to the top PC") {
    val iters = 8
    val out = Similarity.embeddingWhiten(spark, sf, iters).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val v = Similarity.embeddingTopPc(spark, sf, iters).collect().map(_.getLong(1))
    graft.Caches.clear()
    // reference: the operator's exact integer contract on collected
    // arrays — micro quantize, trunc-div mean center, project onto v,
    // subtract trunc(c*v_i / sum(v^2))
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray.map(x => math.floor(1000000.0 * x.toDouble).toLong)))
    val dim = emb.head._2.length
    val n = emb.length
    def truncDiv(a: BigInt, b: BigInt): BigInt = a / b // BigInt / truncates toward zero
    val mu = (0 until dim).map { j =>
      truncDiv(BigInt(emb.map(_._2(j)).sum), BigInt(n)).toLong }
    val d = v.map(x => BigInt(x) * BigInt(x)).sum
    var worstResid = BigInt(0)
    emb.foreach { case (id, qv) =>
      val xm = (0 until dim).map(j => qv(j) - mu(j))
      val c = BigInt((0 until dim).map(j => xm(j) * v(j)).sum)
      var resid = BigInt(0)
      (0 until dim).foreach { j =>
        val w = xm(j) - truncDiv(c * BigInt(v(j)), d).toLong
        assert(out((id, j + 1L)) == w, s"vec $id pos ${j + 1}: ${out((id, j + 1L))} != $w")
        resid += BigInt(w) * BigInt(v(j))
      }
      worstResid = worstResid.max(resid.abs)
    }
    // per-position truncation is < 1 unit, so |sum w_i*v_i| < sum|v_i|
    val bound = v.map(x => BigInt(x).abs).sum
    assert(worstResid < bound,
      s"whitened residual not near-orthogonal: $worstResid >= $bound")
  }

  test("a warm embedding_whiten build launches no job and serves the same rows") {
    // cold: fits the top component and the centering mean once each
    val cold = Similarity.embeddingWhiten(spark, sf).collect().toSeq
    val (warm, jobs) = Jobs.count(spark)(Similarity.embeddingWhiten(spark, sf))
    assert(jobs == 0, s"warm build launched $jobs jobs")
    assert(warm.collect().toSeq == cold)
    graft.Caches.clear()
  }

  test("diversity_kcenter equals a single-node greedy maxmin; selection distances non-increasing") {
    val k = 8
    val out = Similarity.diversityKcenter(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getLong(1),
                 if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    graft.Caches.clear()
    // reference: the operator's exact contract on collected arrays —
    // micro-quantized vectors, integer squared-L2, (d2 desc, id asc)
    // argmax, lowest-id seed, selected ids excluded
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray.map(x => math.floor(1000000.0 * x.toDouble).toLong)))
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var j = 0
      while (j < a.length) { val t = a(j) - b(j); s += t * t; j += 1 }
      s
    }
    var centers = Vector(emb.head)
    val ref = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long])](
      (1L, emb.head._1, None))
    for (r <- 2 to k) {
      val chosen = centers.map(_._1).toSet
      val best = emb.iterator.filter(p => !chosen(p._1))
        .map { case (id, qv) => (id, centers.map(c => d2(qv, c._2)).min) }
        .maxBy { case (id, d) => (d, -id) }
      ref += ((r.toLong, best._1, Some(best._2)))
      centers :+= emb.find(_._1 == best._1).get
    }
    assert(out == ref.toSeq, s"engine $out\nref ${ref.toSeq}")
    val ds = out.flatMap(_._3)
    assert(ds.zip(ds.tail).forall { case (a, b) => b <= a },
      s"maxmin selection distances must be non-increasing: ${ds.mkString(", ")}")
  }

  test("kmeans_fit equals a plain single-node Lloyd run bit-for-bit") {
    val k = 8; val maxIters = 20
    val out = Similarity.kmeansFit(spark, sf, k = k, maxIters = maxIters)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getBoolean(5)))
    graft.Caches.clear()
    // reference: the operator's exact contract, re-implemented on
    // collected arrays with no Spark in the loop
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val byId = emb.toMap
    val dim = emb.head._2.length
    def toMicro(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(1000000.0 * x.toDouble).toLong)
    val cids = emb.filter(_._1 < k).map(_._1)
    var micro = emb.filter(_._1 < k).map(p => toMicro(p._2))
    var nVec = Array.fill[Long](cids.length)(0L)
    var iters = 0
    var converged = false
    while (iters < maxIters && !converged) {
      iters += 1
      val cents = micro.map(_.map(_ / 1e6))
      val assign = emb.map { case (vid, v) =>
        var best = 0; var bestD = Double.NaN
        for (i <- cids.indices) {
          var d = 0.0
          var j = 0
          while (j < dim) { val t = v(j).toDouble - cents(i)(j); d += t * t; j += 1 }
          if (i == 0 || java.lang.Double.compare(d, bestD) < 0) { bestD = d; best = i }
        }
        (vid, best)
      }
      val byCluster = assign.groupBy(_._2)
      val next = cids.indices.map { i =>
        byCluster.get(i).map { members =>
          val sums = Array.fill[Long](dim)(0L)
          members.foreach { case (vid, _) =>
            val m = toMicro(byId(vid))
            var j = 0; while (j < dim) { sums(j) += m(j); j += 1 }
          }
          (members.length.toLong, sums.map(_ / members.length))
        }
      }
      val emptyIdx = cids.indices.filter(i => next(i).isEmpty)
      val updated = cids.indices.map(i => next(i).map(_._2).getOrElse(micro(i))).toArray
      val reseeded: Map[Int, Array[Long]] =
        if (emptyIdx.isEmpty) Map.empty
        else {
          val far = assign.map { case (vid, ci) =>
            val m = toMicro(byId(vid))
            var d2 = 0L
            var j = 0
            while (j < dim) { val t = m(j) - updated(ci)(j); d2 += t * t; j += 1 }
            (vid, d2)
          }.sortBy { case (vid, d2) => (-d2, vid) }.take(emptyIdx.length)
          emptyIdx.sorted.zip(far).map { case (i, (vid, _)) =>
            i -> toMicro(byId(vid))
          }.toMap
        }
      val newMicro = cids.indices.map(i =>
        reseeded.getOrElse(i, updated(i))).toArray
      converged = reseeded.isEmpty &&
        cids.indices.forall(i => java.util.Arrays.equals(newMicro(i), micro(i)))
      nVec = cids.indices.map(i => next(i).map(_._1).getOrElse(0L)).toArray
      micro = newMicro
    }
    val expected = for {
      i <- cids.indices
      pos <- 1 to dim
    } yield (cids(i), pos.toLong, nVec(i), micro(i)(pos - 1),
             iters.toLong, converged)
    assert(out.length == expected.length)
    out.sortBy(r => (r._1, r._2)).zip(expected.sortBy(r => (r._1, r._2)))
      .foreach { case (got, want) => assert(got == want, s"got $got want $want") }
    info(s"lloyd converged=$converged after $iters iters")
  }

  test("knn_graph: every vector present with k contiguous ranks") {
    val out = Similarity.knnGraph(spark, sf, k = 5).cache()
    val n = Tables.embeddings(spark, sf).count()
    val per = out.groupBy("vec_id").agg(count(lit(1)).as("c"), max("rank").as("mr"))
    assert(per.count() == n)
    assert(per.filter(col("c") =!= 5 || col("mr") =!= 5).count() == 0)
    out.unpersist()
  }

  test("PQ ADC recall vs exact top-10; codes decode to the encoder's own centroid choice") {
    val bf = Similarity.annBruteforceTopK(spark, sf).select("probe_id", "neighbor_id")
    val pq = Similarity.annPqTopK(spark, sf).select("probe_id", "neighbor_id")
    val nBf = bf.count()
    val hit = bf.intersect(pq).count()
    info(s"pq recall@10 = ${hit.toDouble / nBf}")
    // near-uniform 64-dim vectors are the adversarial case for PQ (no
    // cluster structure to exploit); the PQ16x8 default (16 subspaces
    // x 256 codes) measures 0.84-0.86 — the bound leaves KMeans-drift
    // headroom, not a semantics regression margin.
    assert(nBf > 0 && hit.toDouble / nBf >= 0.80, s"recall ${hit.toDouble / nBf}")
    graft.Caches.clear()
  }

  test("PQ search is a pure function of the corpus: seeded reruns agree exactly") {
    graft.Caches.clearModels()
    val out = Similarity.annPqTopK(spark, sf, k = 3)
    // drop the memoized codebooks so the second run is a GENUINE
    // refit — this pins seed-determinism, not cache identity
    graft.Caches.clearModels()
    val again = Similarity.annPqTopK(spark, sf, k = 3)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    assert(out.columns.toSeq ==
      Seq("probe_id", "rank", "neighbor_id", "adc_cosine_x1e6"))
    graft.Caches.clear()
  }

  test("graft_pq_encode equals the struct-sort HOF encode bit-for-bit, ties keep the lowest code") {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val nSub = 16; val nCodes = 64
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val subDim = dim / nSub
    // seeded arbitrary codebook — equivalence must hold for ANY codebook
    val rnd = new scala.util.Random(7)
    val codebooks: Seq[Seq[Seq[Float]]] = Seq.fill(nSub)(Seq.fill(nCodes)(
      Seq.fill(subDim)(rnd.nextFloat() * 2f - 1f)))
    val cbLit = typedLit(codebooks)
    def hofEncode(m: Int) = {
      val sub = slice(col("embedding"), m * subDim + 1, subDim)
      element_at(array_sort(transform(element_at(cbLit, m + 1), (cent, i) =>
        struct(aggregate(zip_with(sub, cent,
                 (a, b) => (a.cast("double") - b.cast("double")) *
                           (a.cast("double") - b.cast("double"))),
               lit(0.0), (acc, x) => acc + x).as("dist"), i.as("idx")))), 1)("idx")
    }
    val diff = emb
      .withColumn("fast", call_function("graft_pq_encode", col("embedding"), cbLit))
      .withColumn("hof", array((0 until nSub).map(hofEncode): _*))
      .filter(col("fast") =!= col("hof"))
    assert(diff.count() == 0, "fused encode diverged from the HOF road")
    // exact tie (duplicate centroids): both roads must keep code 0
    val dupCb = typedLit(Seq(Seq(Seq(0.5f, 0.5f), Seq(0.5f, 0.5f))))
    val tied = Seq(Tuple1(Seq(0.1f, 0.9f))).toDF("embedding")
      .select(call_function("graft_pq_encode", col("embedding"), dupCb).as("codes"))
      .head().getSeq[Int](0)
    assert(tied == Seq(0), "tie must resolve to the lowest code index")
  }

  test("trained index state is session-memoized: repeat PQ/IVF invocations skip the k-means fits") {
    graft.Caches.clearModels()
    val before = graft.Caches.modelMissCount
    val first = Similarity.annPqTopK(spark, sf, k = 3).collect()
    assert(graft.Caches.modelMissCount == before + 1,
      "first invocation trains exactly one codebook set")
    val second = Similarity.annPqTopK(spark, sf, k = 3).collect()
    assert(graft.Caches.modelMissCount == before + 1,
      "second invocation must reuse the memoized codebooks, not retrain")
    assert(first.map(_.toSeq).sameElements(second.map(_.toSeq)),
      "memoized index must serve bit-identical results")
    // the IVF coarse quantizer rides the same contract
    Similarity.annIvfTopK(spark, sf).limit(1).count()
    val afterIvf = graft.Caches.modelMissCount
    Similarity.annIvfTopK(spark, sf).limit(1).count()
    Similarity.knnGraphIvf(spark, sf).limit(1).count() // same (dir, nCells) key
    assert(graft.Caches.modelMissCount == afterIvf,
      "repeat IVF invocations (and knn_graph_ivf at the same dial) must not refit")
    graft.Caches.clear()
  }

  test("ann_recall_report reproduces each tier's spec floor in one query") {
    val rows = Similarity.annRecallReport(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("ivf", "ivfpq", "lsh", "pq", "sq8"))
    // the same floors the per-tier tests assert, through the report road
    val floors = Map("lsh" -> 800000L, "ivf" -> 750000L,
                     "pq" -> 800000L, "ivfpq" -> 700000L, "sq8" -> 850000L)
    rows.foreach { case (tier, (hits, expected, recall)) =>
      assert(expected > 0 && hits <= expected, s"$tier counts inconsistent")
      assert(recall == hits * 1000000L / expected, s"$tier recall arithmetic")
      assert(recall >= floors(tier), s"$tier recall $recall below floor ${floors(tier)}")
    }
    // deterministic: the report is a pure function of corpus + memoized indexes
    val again = Similarity.annRecallReport(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows == again)
    graft.Caches.clear()
  }

  test("doc_embedding_pool conserves the corpus micro-sums against the centroid operator") {
    val pool = Similarity.docEmbeddingPool(spark, sf).cache()
    val nVecs = Tables.embeddings(spark, sf).count()
    // every chunk pooled exactly once
    assert(pool.groupBy("doc_key").agg(max("n_chunks")).collect()
      .map(_.getLong(1)).sum == nVecs)
    // per-dimension corpus totals agree with the label-keyed centroid
    // operator's — two different groupings of the SAME exact sums
    val byDoc = pool.groupBy("pos").agg(sum("sum_micro").as("t1"))
    val byLabel = Similarity.embeddingCentroids(spark, sf)
      .groupBy("pos").agg(sum("sum_micro").as("t2"))
    assert(byDoc.join(byLabel, "pos").filter(col("t1") =!= col("t2")).count() == 0)
    // pooled value is the TRUNC-divided mean: |pooled·n − sum| < n
    assert(pool.filter(
      abs(col("pooled_micro") * col("n_chunks") - col("sum_micro")) >= col("n_chunks"))
      .count() == 0)
    pool.unpersist()
  }

  test("ann_filtered_topk pre-filters by label: exact within stratum, never leaks across") {
    val out = Similarity.annFilteredTopK(spark, sf, k = 5).cache()
    assert(out.count() > 0)
    // every neighbor shares its probe's label (the filter is a filter)
    val emb = Tables.requireLabel(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("label"))
    val probeLabels = emb.filter(col("vec_id") % 100 < 2)
      .select(col("vec_id").as("probe_id"), col("label").as("pl"))
    assert(out.join(probeLabels, "probe_id").filter(col("label") =!= col("pl")).count() == 0)
    // equals the brute-force top-k restricted to the stratum: the
    // filtered result is EXACT, not a post-filtered approximation
    val brute = Similarity.annBruteforceTopK(spark, sf, k = Int.MaxValue)
    val expect = brute.join(probeLabels, "probe_id")
      .join(emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .filter(col("label") === col("pl"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine_x1e6").desc, col("neighbor_id"))
    val expectTop = expect
      .withColumn("frank", row_number().over(w)).filter(col("frank") <= 5)
      .select(col("probe_id"), col("frank").as("rank"),
              col("neighbor_id"), col("label"), col("cosine_x1e6"))
    assert(out.exceptAll(expectTop).isEmpty && expectTop.exceptAll(out).isEmpty)
    out.unpersist()
    graft.Caches.clear()
  }

  test("ann_filtered_ivf probing every cell equals the exact filtered tier; never leaks labels") {
    // The segmentation loses nothing — only cell pruning does: with
    // all cells probed the label-segmented IVF reproduces the exact
    // pre-filtered result bit-for-bit.
    val exact = Similarity.annFilteredTopK(spark, sf)
    val all = Similarity.annFilteredIvf(spark, sf, nCells = 8, nProbeCells = 8)
    assert(exact.exceptAll(all).count() == 0 && all.exceptAll(exact).count() == 0)
    // and at the default pruning dial, neighbors still never cross strata
    val out = Similarity.annFilteredIvf(spark, sf).cache()
    val probeLabels = Tables.requireLabel(Tables.embeddings(spark, sf))
      .filter(col("vec_id") % 100 < 2)
      .select(col("vec_id").as("probe_id"), col("label").as("pl"))
    assert(out.join(probeLabels, "probe_id").filter(col("label") =!= col("pl")).count() == 0)
    out.unpersist()
    graft.Caches.clear()
  }

  test("ann_filtered_ivf: stratum-aware default covers >= 85% recall; full coverage == exact") {
    // The adaptive dial keeps ranked cells until they cover 0.9 of the
    // probe's OWN stratum, so on the adversarially-uniform corpus
    // expected recall ≈ the covered fraction (measures 0.96); the
    // floor leaves KMeans-drift headroom.
    val exact = Similarity.annFilteredTopK(spark, sf).select("probe_id", "neighbor_id")
    val ivf = Similarity.annFilteredIvf(spark, sf).select("probe_id", "neighbor_id")
    val nExact = exact.count()
    val hit = exact.intersect(ivf).count()
    assert(nExact > 0 && hit.toDouble / nExact >= 0.85, s"recall ${hit.toDouble / nExact}")
    // coverage 1.0 probes every non-empty stratum cell — and an empty
    // cell can contribute no candidate, so this must equal the exact
    // filtered tier bit-for-bit (the adaptive road's own allprobe)
    val full = Similarity.annFilteredIvf(spark, sf, coverageX1000 = 1000)
    val exactFull = Similarity.annFilteredTopK(spark, sf)
    assert(full.exceptAll(exactFull).count() == 0 &&
           exactFull.exceptAll(full).count() == 0)
    graft.Caches.clear()
  }

  test("embedding_outliers: verdict equals a plain-Scala recompute of the 2x-mean rule") {
    val out = Similarity.embeddingOutliers(spark, sf).collect()
    val emb = Tables.requireLabel(Tables.embeddings(spark, sf))
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getAs[Number]("label").longValue, r.getSeq[Float](2).toArray))
    assert(out.length == emb.length)
    // independent integer road: micro-floor, trunc-div centroid, L2²
    val byLabel = emb.groupBy(_._2)
    val micro = emb.map { case (id, l, v) =>
      (id, l, v.map(x => math.floor(1000000.0 * x).toLong)) }.toSeq
    val cents = byLabel.map { case (l, vs) =>
      val n = vs.length
      val sums = vs.map(_._3.map(x => math.floor(1000000.0 * x).toLong))
        .transpose.map(_.sum)
      l -> sums.map(s => s / n).toArray // Scala / on Long truncates like div
    }
    val dists = micro.map { case (id, l, m) =>
      (id, l, m.zip(cents(l)).map { case (e, c) => (e - c) * (e - c) }.sum)
    }
    val mean2 = dists.groupBy(_._2).map { case (l, ds) =>
      l -> (ds.map(d => BigInt(d._3)).sum, ds.length) }
    val expect = dists.map { case (id, l, d2) =>
      val (s, n) = mean2(l)
      (id, l, d2, BigInt(d2) * n > 2 * s)
    }.sortBy(_._1)
    out.sortBy(_.getLong(0)).zip(expect).foreach { case (r, (id, l, d2, flag)) =>
      assert(r.getLong(0) == id && r.getAs[Number]("label").longValue == l)
      assert(r.getLong(2) == d2, s"vec $id dist2")
      assert(r.getBoolean(3) == flag, s"vec $id verdict")
    }
    // the mean-based fence can only ever flag a strict minority — and
    // on this CLEAN synthetic corpus (concentrated distances) it
    // rightly flags nothing; the crafted-corruption test below proves
    // the positive path
    assert(out.count(_.getBoolean(3)) < out.length / 2)
    graft.Caches.clear()
  }

  test("embedding_outliers flags exactly the corrupted vectors on a crafted fixture") {
    import spark.implicits._
    val dim = 64
    val rng = new scala.util.Random(7L)
    // two tight clusters + one corrupted vector in each (a zeroed
    // encode and a scale blowup — the two real-world failure shapes)
    def near(center: Float): Array[Float] =
      Array.fill(dim)(center + rng.nextFloat() * 0.01f)
    val rows =
      (0 until 20).map(i => (i.toLong, 0, near(0.5f))) ++
      Seq((20L, 0, Array.fill(dim)(0.0f))) ++            // zeroed encode
      (30 until 50).map(i => (i.toLong, 1, near(-0.5f))) ++
      Seq((50L, 1, Array.fill(dim)(25.0f)))              // scale blowup
    val dir = java.nio.file.Files.createTempDirectory("graft-outlier").toString
    rows.toDF("vec_id", "label", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.embeddingOutliers(spark, dir).collect()
    val flagged = out.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(flagged == Set(20L, 50L),
      s"expected exactly the corrupted vectors, got $flagged")
    graft.Caches.clear()
  }

  test("knn_graph refuses a corpus whose plan-estimated size exceeds the broadcast limit") {
    spark.conf.set(Similarity.KnnBroadcastLimitKey, "1") // 1 byte: any corpus trips it
    try {
      val e = intercept[IllegalArgumentException] { Similarity.knnGraph(spark, sf, k = 5) }
      assert(e.getMessage.contains("knn_graph_ivf"),
        "the guard must direct users to the candidate-pruned scale path")
    } finally spark.conf.unset(Similarity.KnnBroadcastLimitKey)
    // and back under the default limit the operator still builds
    assert(Similarity.knnGraph(spark, sf, k = 5).limit(1).count() == 1)
  }

  test("embedding_top_pc equals a single-node integral recompute and dominates the axes") {
    val iters = 8
    val emb = Tables.embeddings(spark, sf)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val dim = emb.head.length
    // single-node re-implementation of the exact integral recipe
    val xq = emb.map(_.map(e => math.floor(e.toDouble * 1000000.0).toLong))
    val mu = Array.tabulate(dim) { d =>
      val sx = xq.map(_(d)).sum; sx / emb.length // JVM '/' truncates like Spark div
    }
    val xm = xq.map(v => Array.tabulate(dim)(d => v(d) - mu(d)))
    var v = Array.fill(dim)(BigInt(1000000))
    for (_ <- 1 to iters) {
      val s = Array.fill(dim)(BigInt(0))
      xm.foreach { x =>
        var dot = 0L
        var d = 0
        while (d < dim) { dot += x(d) * v(d).toLong; d += 1 }
        val w = dot / 1000000L
        d = 0
        while (d < dim) { s(d) += BigInt(x(d)) * w; d += 1 }
      }
      val mx = s.map(_.abs).max
      v = s.map(x => (x * 1000000) / mx)
    }
    val want = v.map(_.toLong)
    val got = Similarity.embeddingTopPc(spark, sf, iters)
      .orderBy("pos").collect().map(_.getLong(1))
    assert(got.toSeq == want.toSeq,
      "distributed power iteration must equal the single-node integral recompute")
    // dominance: the found direction's Rayleigh quotient beats every
    // coordinate axis (it is supposed to be the TOP component)
    def rayleigh(dir: Array[Double]): Double = {
      val n2 = dir.map(x => x * x).sum
      xm.map { x =>
        val dot = x.indices.map(d => x(d) * dir(d)).sum
        dot * dot
      }.sum / n2
    }
    val rGot = rayleigh(got.map(_.toDouble))
    (0 until dim).foreach { d =>
      val axis = Array.fill(dim)(0.0); axis(d) = 1.0
      assert(rGot >= rayleigh(axis),
        s"axis $d has a larger Rayleigh quotient than the returned direction")
    }
    graft.Caches.clear()
  }
}
