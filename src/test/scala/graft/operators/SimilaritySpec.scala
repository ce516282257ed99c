package graft.operators

import org.apache.spark.sql.functions.{col, expr}

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb = Seq(
    (1L, Array(1.0f, 0.0f)),
    (2L, Array(0.8f, 0.6f)),
    (3L, Array(0.0f, 1.0f)),
    (4L, Array(-1.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine and excludes self") {
    val out = rows(Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 1), k = 3)
      .orderBy("rank"))
    // query 1: cos(2)=0.8, cos(3)=0, cos(4)=-1
    assert(out == Seq(Seq(1L, 2L, 1L), Seq(1L, 3L, 2L), Seq(1L, 4L, 3L)))
  }

  test("ivfTopK: probing all cells reproduces brute force; fewer cells is a subset") {
    val corpus = (1L to 40L).map { i =>
      (i, Array(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat))
    }.toSeq.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" <= 3)
    val exact = rows(Similarity.bruteForceTopK(corpus, queries, k = 5)
      .orderBy("query_id", "rank"))
    // nprobe = nlist: every cell probed -> identical to brute force
    val full = rows(Similarity.ivfTopK(corpus, queries, k = 5,
      nlist = 4, nprobe = 4, dim = 2).orderBy("query_id", "rank"))
    assert(full == exact)
    // nprobe < nlist: approximate, but whatever it returns ranks correctly
    val approx = rows(Similarity.ivfTopK(corpus, queries, k = 5,
      nlist = 4, nprobe = 2, dim = 2))
    assert(approx.nonEmpty)
    val exactPairs = exact.map(r => (r(0), r(1))).toSet
    assert(approx.count(r => exactPairs.contains((r(0), r(1)))) >= approx.size / 2)
  }

  test("trainIvfCentroids: Lloyd iteration moves centroids toward cell means") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    // seeds = two lowest ids: (1,0) and (0.9,0.1). Against unit centroids,
    // (0.9,0.1) itself lands in cell 2, as do (0,1) and (0.1,0.9) — so the
    // refined centroids are (1,0) and mean{(0.9,0.1),(0,1),(0.1,0.9)}.
    val refined = Similarity.trainIvfCentroids(emb, nlist = 2, dim = 2, iters = 1)
    assert(refined.size == 2)
    assert(math.abs(refined(0)(0) - 1.0) < 1e-6)
    assert(math.abs(refined(1)(0) - 1.0 / 3) < 1e-6 &&
      math.abs(refined(1)(1) - 2.0 / 3) < 1e-6)
  }

  test("kmeansEmbed: Lloyd rounds recover the true groups from bad seeds") {
    // both seeds (ids 1, 2) sit in group A — the (0,1) group has no seed.
    // Round 1 drags centroid 2 toward B (B plus the tilted id 2 assign to
    // it); round 2 hands id 2 back to cluster 1, leaving c2 = (0,1): the
    // final assignment is the true grouping, which no single assignment
    // against the raw seeds could produce.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(1.0f, 0.0f)), (4L, Array(1.0f, 0.0f)),
      (5L, Array(1.0f, 0.0f)), (6L, Array(1.0f, 0.0f))) ++
      (7L to 12L).map(i => (i, Array(0.0f, 1.0f)))
    val out = rows(Similarity.kmeansEmbed(vecs.toDF("vec_id", "embedding"),
      nlist = 2, iters = 2).orderBy("vec_id"))
    val clusters = out.map(r => r(0).asInstanceOf[Long] -> r(1)).toMap
    assert((1L to 6L).map(clusters).distinct == Seq(1L))
    assert((7L to 12L).map(clusters).distinct == Seq(2L))
    assert(out.forall(r => r(2) == 6L))
  }

  test("kmeansEmbed: assignment and sizes partition-invariant") {
    val df = (1L to 30L).map { i =>
      (i, Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat))
    }.toDF("vec_id", "embedding")
    val one = rows(Similarity.kmeansEmbed(df.repartition(1), nlist = 4,
      iters = 2).orderBy("vec_id"))
    val many = rows(Similarity.kmeansEmbed(df.repartition(7), nlist = 4,
      iters = 2).orderBy("vec_id"))
    assert(one == many)
  }

  test("pqEncode: per-subspace nearest seed centroid, seeds self-code") {
    // dim 4, m=2 subspaces of 2 dims; codebooks = subvectors of ids 1, 2
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (2L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Array(0.9f, 0.1f, 0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = rows(Similarity.pqEncode(df, m = 2, k = 2, dim = 4)
      .orderBy("vec_id"))
    assert(out == Seq(
      Seq(1L, "1,1"),   // a seed reproduces its own codebook entries
      Seq(2L, "2,2"),
      Seq(3L, "1,2"),   // first half like id 1, second half like id 2
      Seq(4L, "1,1")))  // nearest-by-L2, not exact match
  }

  test("pqTopK: ADC ranks by lookup totals; code-identical vectors tie by id") {
    // seeds = ids 1,2 -> codebooks {(1,0),(0,1)} in both subspaces.
    // ids 3,4 quantize to the same codes as id 1, id 5 to id 2's codes:
    // for query 1 the ADC scores put code-(1,1) vectors (3,4) first
    // (id tie-break), then the code-(2,2) vectors.
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f, 0.9f, 0.1f)),
      (4L, Array(0.8f, 0.2f, 0.8f, 0.2f)),
      (5L, Array(0.1f, 0.9f, 0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = rows(Similarity.pqTopK(df, df.filter($"vec_id" === 1), k = 4,
      m = 2, kcent = 2, dim = 4).orderBy("rank"))
    assert(out == Seq(
      Seq(1L, 3L, 1L), Seq(1L, 4L, 2L),   // same code as the query
      Seq(1L, 2L, 3L), Seq(1L, 5L, 4L)))  // opposite code, id tie-break
  }

  test("ivfPqTopK: probing all cells reproduces pqTopK; fewer cells is a subset") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f, 0.9f, 0.1f)),
      (4L, Array(0.8f, 0.2f, 0.8f, 0.2f)),
      (5L, Array(0.1f, 0.9f, 0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" === 1)
    val adcOnly = rows(Similarity.pqTopK(df, queries, k = 4,
      m = 2, kcent = 2, dim = 4).orderBy("query_id", "rank"))
    // nprobe = nlist: every cell probed -> the IVF stage prunes nothing
    // and the ADC ranking is exactly pqTopK's
    val full = rows(Similarity.ivfPqTopK(df, queries, k = 4,
      nlist = 2, nprobe = 2, m = 2, kcent = 2, dim = 4)
      .orderBy("query_id", "rank"))
    assert(full == adcOnly)
    // nprobe = 1: only the query's own cell — candidates are a subset,
    // still contiguously ranked from 1
    val one = rows(Similarity.ivfPqTopK(df, queries, k = 4,
      nlist = 2, nprobe = 1, m = 2, kcent = 2, dim = 4).orderBy("rank"))
    assert(one.nonEmpty && one.size <= adcOnly.size)
    assert(one.map(_(2)) == (1L to one.size).map(identity))
    val fullPairs = adcOnly.map(r => (r(0), r(1))).toSet
    assert(one.forall(r => fullPairs.contains((r(0), r(1)))))
  }

  test("ivfPqTopK: empty corpus yields an empty result, not an index error") {
    val empty = emb.filter($"vec_id" < 0)
    val out = Similarity.ivfPqTopK(empty, emb, k = 3, nlist = 2, nprobe = 1,
      m = 2, kcent = 2, dim = 2)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "rank"))
  }

  test("matryoshkaTopK: full-size shortlist reproduces brute force even " +
      "with a 1-dim prefix; a tight shortlist prunes by prefix rank") {
    val corpus = (1L to 30L).map { i =>
      (i, Array(math.cos(i * 0.41).toFloat, math.sin(i * 0.41).toFloat,
        math.cos(i * 1.7).toFloat, math.sin(i * 1.7).toFloat))
    }.toSeq.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" <= 2)
    val exact = rows(Similarity.bruteForceTopK(corpus, queries, k = 5)
      .orderBy("query_id", "rank"))
    // shortlist covers the whole corpus -> stage 2 re-ranks everything
    // exactly, whatever the prefix stage ordered
    val full = rows(Similarity.matryoshkaTopK(corpus, queries, k = 5,
      prefixDim = 1, shortlist = 30).orderBy("query_id", "rank"))
    assert(full == exact)
    // tight shortlist: approximate, but ranks stay contiguous and the
    // emitted neighbors are re-ranked by exact full-dim cosine
    val approx = rows(Similarity.matryoshkaTopK(corpus, queries, k = 5,
      prefixDim = 2, shortlist = 8).orderBy("query_id", "rank"))
    assert(approx.size == 10)
    approx.groupBy(_(0)).values.foreach { rs =>
      assert(rs.map(_(2)) == (1L to 5L))
    }
  }

  test("pqTopK: empty corpus yields an empty result, not an index error") {
    val empty = emb.filter($"vec_id" < 0)
    val out = Similarity.pqTopK(empty, emb, k = 3, m = 2, kcent = 2, dim = 2)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "rank"))
  }

  test("embeddingCentroids: exact micro-unit means, partition-invariant") {
    val docs = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(-0.5f, 0.25f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = rows(Similarity.embeddingCentroids(docs).orderBy("label"))
    // label 0: mean (0.5, 0.5) -> 500000 micro; label 1: (-0.5, 0.25)
    assert(out == Seq(
      Seq(0, 2L, "500000,500000"),
      Seq(1, 1L, "-500000,250000")))
    val repart = rows(Similarity.embeddingCentroids(docs.repartition(5))
      .orderBy("label"))
    assert(repart == out)
  }

  test("quantizeInt8: full range used, zero vector safe, reconstruction close") {
    val emb = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = rows(Similarity.quantizeInt8(emb).orderBy("vec_id"))
    assert(out(0)(1) == "64,-127,32") // 0.5*127, -1*127, 0.25*127 rounded
    assert(out(0)(2) == 127.0) // scale = 127 / 1.0
    assert(out(1)(1) == "0,0,0" && out(1)(2) == 0.0)
  }

  test("graft_hyperplane_sig is bit-identical to the HOF formulation, " +
      "including edge semantics") {
    import org.apache.spark.sql.functions.typedLit
    val real = graft.sources.Fixtures.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val planes: Seq[Seq[Double]] = (0 until 64).map { p =>
      (0 until 64).map(d => Similarity.planeComponent(p, d))
    }
    val both = real
      .withColumn("__planes", typedLit(planes))
      .withColumn("hof", expr(
        """aggregate(
          |  zip_with(
          |    transform(__planes, p -> graft_dot(embedding, p)),
          |    sequence(0, 63),
          |    (d, b) -> CASE WHEN d > 0 THEN shiftleft(CAST(1 AS BIGINT), b)
          |              ELSE CAST(0 AS BIGINT) END),
          |  CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin))
      .withColumn("native", expr("graft_hyperplane_sig(embedding, 64, 64)"))
    assert(both.filter(col("hof") =!= col("native")).count() == 0)
    assert(both.filter(col("native").isNull).count() == 0)
    // edge semantics mirror the HOF chain: short vector -> dot NULL ->
    // CASE else-branch -> signature 0; null vector stays null
    val edge = Seq(Tuple1(Array(1.0f, 2.0f)), Tuple1(null: Array[Float]))
      .toDF("embedding")
      .select(expr("graft_hyperplane_sig(embedding, 64, 64)").as("s"))
    assert(rows(edge.orderBy(col("s").asc_nulls_last)) ==
      Seq(Seq(0L), Seq(null)))
  }

  test("hyperplaneLshPairs output is a subset of the exact pairs") {
    val exact = rows(Dedup.embeddingNearDupPairs(emb, threshold = 0.5)).toSet
    val lsh = rows(Similarity.hyperplaneLshPairs(emb, threshold = 0.5,
      numPlanes = 2, numTables = 8, dim = 2)).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.nonEmpty) // (1,2) at cos 0.8 should survive 8 tables
  }

  test("hyperplaneLshPairs: numPlanes = 64 is rejected (the per-table " +
      "mask would wrap to 0), 63 is accepted") {
    val e = intercept[IllegalArgumentException] {
      Similarity.hyperplaneLshPairs(emb, numPlanes = 64, numTables = 1,
        dim = 2)
    }
    assert(e.getMessage.contains("numPlanes must be <= 63"))
    val lsh = rows(Similarity.hyperplaneLshPairs(emb, threshold = 0.5,
      numPlanes = 63, numTables = 1, dim = 2)).toSet
    assert(lsh.subsetOf(
      rows(Dedup.embeddingNearDupPairs(emb, threshold = 0.5)).toSet))
  }

  test("annRecall counts hits and divides only when denominators are > 0") {
    import spark.implicits._
    val exact = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L))
      .toDF("vec_a", "vec_b")
    val approx = Seq((1L, 2L), (2L, 3L), (6L, 7L)).toDF("vec_a", "vec_b")
    val out = rows(Similarity.annRecall(approx, exact))
    assert(out.head == Seq(4L, 3L, 2L, 2.0 / 4, 2.0 / 3))
    // empty ground truth: recall NULL, precision still defined
    val out2 = rows(Similarity.annRecall(approx, exact.limit(0)))
    assert(out2.head == Seq(0L, 3L, 0L, null, 0.0))
  }

  test("lshLayout: threshold-derived (planes, tables) under the bit budget") {
    // the measured anchor layouts (see embeddingNearDupLsh scaladoc)
    assert(Similarity.lshLayout(0.4) == ((3, 21)))
    assert(Similarity.lshLayout(0.7) == ((6, 10)))
    assert(Similarity.lshLayout(0.9) == ((9, 7)))
    // tighter contracts never band shallower, and the budget holds
    val layouts = Seq(0.3, 0.4, 0.5, 0.7, 0.8, 0.9, 0.95)
      .map(Similarity.lshLayout(_))
    assert(layouts.map(_._1) == layouts.map(_._1).sorted)
    assert(layouts.forall { case (k, l) => k * l <= 63 && k >= 1 && l >= 1 })
  }

  test("plantNearDups: twins land in the tight near-dup cosine band, " +
      "originals ride along exactly") {
    val real = graft.sources.Fixtures.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val corpus = Similarity.plantNearDups(real)
    assert(corpus.count() == 2 * real.count())
    val a = corpus.filter(col("vec_id") < 1000000L)
      .select(col("vec_id").as("id"), col("embedding").as("va"))
    val b = corpus.filter(col("vec_id") >= 1000000L)
      .select((col("vec_id") - 1000000L).as("id"), col("embedding").as("vb"))
    val mm = a.join(b, "id")
      .select((graft.functions.VectorFns.dot("va", "vb") /
        (graft.functions.VectorFns.norm("va") *
          graft.functions.VectorFns.norm("vb"))).as("cos"))
      .agg(org.apache.spark.sql.functions.min("cos"),
        org.apache.spark.sql.functions.max("cos")).head
    assert(mm.getDouble(0) > 0.93, s"planted twin too far: ${mm.getDouble(0)}")
    assert(mm.getDouble(1) < 0.99, s"planted twin trivially close: ${mm.getDouble(1)}")
  }

  test("semanticDedup: lower-id neighbor in the same cell drops a vector") {
    // seeds (nlist=2) are vecs 1 and 2 -> cells along (1,0) and (0,1);
    // 3 is near 1 (cos ~0.99), 4 near 2 (cos ~0.995), 5 shares 1's cell
    // but is only cos 0.8 from everything there
    val vs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.99f, 0.141f)),
      (4L, Array(0.1f, 0.995f)),
      (5L, Array(0.8f, -0.6f)))
      .toDF("vec_id", "embedding")
    val out = rows(Similarity.semanticDedup(vs, threshold = 0.9, nlist = 2,
      dim = 2).orderBy("vec_id")).map(r => (r(0), r(2)))
    assert(out == Seq((1L, true), (2L, true), (3L, false), (4L, false),
      (5L, true)))
    // cell-size cap: an over-cap cell skips pair generation -> all kept
    val capped = rows(Similarity.semanticDedup(vs, threshold = 0.9,
      nlist = 2, dim = 2, maxCellSize = Some(1)))
    assert(capped.forall(_(2) == true))
  }

  test("semanticDecontaminate: probe-similar vectors dropped, probes excluded from self") {
    val vs = Seq(
      (1L, Array(1.0f, 0.0f)),      // probe
      (2L, Array(0.99f, 0.141f)),   // cos ~0.99 to probe 1 -> flagged
      (3L, Array(0.0f, 1.0f)),      // orthogonal -> kept
      (4L, Array(-1.0f, 0.0f)))     // opposite -> kept
      .toDF("vec_id", "embedding")
    val out = rows(Similarity.semanticDecontaminate(vs,
      vs.filter($"vec_id" === 1), threshold = 0.9).orderBy("vec_id"))
    assert(out == Seq(
      Seq(1L, 0L, true),   // the probe itself never matches itself
      Seq(2L, 1L, false),
      Seq(3L, 0L, true),
      Seq(4L, 0L, true)))
  }

  test("hardNegatives: nearest different-label vectors, same-label excluded") {
    val vs = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.436f), 0),   // same label as 1 — never a negative
      (3L, Array(0.8f, 0.6f), 1),     // cos 0.8 to anchor 1
      (4L, Array(0.0f, 1.0f), 1),     // cos 0 to anchor 1
      (5L, Array(-1.0f, 0.0f), 2))    // cos -1 to anchor 1
      .toDF("vec_id", "embedding", "label")
    val out = rows(Similarity.hardNegatives(vs, vs.filter($"vec_id" === 1),
      k = 2).orderBy("rank"))
    assert(out == Seq(
      Seq(1L, 0, 3L, 1, 1L),
      Seq(1L, 0, 4L, 1, 2L)))
  }

  test("mutualKnnPairs: only reciprocal top-k edges survive") {
    // with k = 1: 1 and 2 are each other's nearest (mutual); 3's nearest
    // is 2, but 2's nearest is 1 — the (2,3) edge is one-directional and
    // must be dropped; 4 is far from everything
    val vs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.95f, 0.31f)),
      (3L, Array(0.6f, 0.8f)),
      (4L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = rows(Similarity.mutualKnnPairs(vs, k = 1)
      .orderBy("vec_a", "vec_b"))
    assert(out == Seq(Seq(1L, 2L)))
    // k = 3 on 4 vectors: every edge is mutual -> all 6 pairs
    val all = rows(Similarity.mutualKnnPairs(vs, k = 3))
    assert(all.size == 6)
  }

  test("embeddingOutliers: farthest-from-centroid flagged, per label") {
    // label 0: three vectors near (1, 0) and one far outlier; permille 250
    // flags ceil(4 * 0.25) = 1 row — the farthest. label 1: a single
    // vector is its own centroid (d2 = 0) and ceil(1 * 0.25) = 1 flags it.
    val vs = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.1f), 0),
      (3L, Array(1.0f, -0.1f), 0),
      (4L, Array(-1.0f, 0.0f), 0),
      (5L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = rows(Similarity.embeddingOutliers(vs, outlierPermille = 250)
      .orderBy("vec_id"))
    assert(out.map(r => (r(0), r(3))) == Seq(
      (1L, false), (2L, false), (3L, false), (4L, true), (5L, true)))
    // distances are exact integers; the singleton label's d2 is 0
    assert(out.find(_(0) == 5L).get(2) == 0L)
    // partition-invariance of the integer path
    val rep = rows(Similarity.embeddingOutliers(vs.repartition(7),
      outlierPermille = 250).orderBy("vec_id"))
    assert(rep == out)
  }

  test("ivfTopKAgainstIndex: matches ivfTopK exactly; index side never " +
      "shuffles; rebuild swaps atomically") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val emb = graft.sources.Fixtures.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    Seq("_cells", "_centroids").foreach(sfx =>
      graft.tables.Tables.dropTable(spark, "ivf_idx_test" + sfx))
    Similarity.writeIvfIndex(emb, "ivf_idx_test", nlist = 16, numBuckets = 4)
    try {
      val out = Similarity.ivfTopKAgainstIndex(queries, "ivf_idx_test",
        k = 10, nprobe = 4)
      val expected = rows(Similarity.ivfTopK(emb, queries, k = 10,
        nlist = 16, nprobe = 4).orderBy("query_id", "rank"))
      assert(rows(out.orderBy("query_id", "rank")) == expected)
      assert(expected.nonEmpty)
      val plan = out.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def scanWithoutJoinBelow(p: SparkPlan): Boolean =
        if (p.toString.linesIterator.next().contains("ivf_idx_test_")) true
        else if (p.children.length != 1) false
        else scanWithoutJoinBelow(p.children.head)
      val offending = plan.collect {
        case e: SparkPlan with ShuffleExchangeLike
            if e.children.exists(scanWithoutJoinBelow) => e
      }
      assert(offending.isEmpty,
        s"cells table re-shuffled before its probe join:\n$offending")
      // rebuild on a corpus subset goes through the staged swap and the
      // probe sees the new generation
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0),
        "ivf_idx_test", nlist = 8, numBuckets = 4)
      val rebuilt = Similarity.ivfTopKAgainstIndex(queries, "ivf_idx_test",
        k = 5, nprobe = 2)
      assert(rows(rebuilt.filter(col("neighbor_id") % 2 =!= 0)).isEmpty)
      assert(rebuilt.count() > 0)
      // tiered plan over bulk + a committed delta: the bulk leg keeps
      // its bucketed scan under the probe join — no shuffle with the
      // cells scan below it on either union leg's path
      val deltaDir = java.nio.file.Files
        .createTempDirectory("ivfplan").toString
      spark.table("ivf_idx_test_cells").limit(2)
        .write.mode("overwrite").parquet(s"$deltaDir/batch=0")
      val tiered = Similarity.ivfTopKTiered(queries, "ivf_idx_test",
        deltaDir, k = 5, nprobe = 2)
      tiered.write.format("noop").mode("overwrite").save()
      val tplan = tiered.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val tOffending = tplan.collect {
        case e: SparkPlan with ShuffleExchangeLike
            if e.children.exists(scanWithoutJoinBelow) => e
      }
      assert(tOffending.isEmpty,
        s"tiered bulk leg re-shuffled before the probe join:\n$tOffending")
      // half-present index (e.g. crash between the two swap commits):
      // refuse rather than route with the wrong generation
      graft.tables.Tables.dropTable(spark, "ivf_idx_test_centroids")
      intercept[IllegalStateException] {
        Similarity.ivfTopKAgainstIndex(queries, "ivf_idx_test")
      }
    } finally Seq("_cells", "_centroids").foreach(sfx =>
      graft.tables.Tables.dropTable(spark, "ivf_idx_test" + sfx))
  }

  test("ivfPqTopKIndexed: matches ivfPqTopK exactly; codes table never " +
      "shuffles; rebuild bumps the generation; half-present refuses") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val emb = graft.sources.Fixtures.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    Seq("_pqcodes", "_pqmeta").foreach(sfx =>
      graft.tables.Tables.dropTable(spark, "pq_idx_test" + sfx))
    Similarity.writePqIndex(emb, "pq_idx_test", nlist = 16, m = 4,
      kcent = 16, dim = 64, numBuckets = 4, residual = false)
    try {
      assert(Similarity.pqGeneration(spark, "pq_idx_test") == 0L)
      val out = Similarity.ivfPqTopKIndexed(queries, "pq_idx_test",
        k = 10, nprobe = 4, dim = 64)
      val expected = rows(Similarity.ivfPqTopK(emb, queries, k = 10,
        nlist = 16, nprobe = 4, m = 4, kcent = 16, dim = 64)
        .orderBy("query_id", "rank"))
      assert(expected.nonEmpty)
      assert(rows(out.orderBy("query_id", "rank")) == expected)
      // the bucketed codes table reads at its layout: no shuffle with
      // the codes scan directly below it (the same pin as the IVF index)
      val plan = out.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def scanWithoutJoinBelow(p: SparkPlan): Boolean =
        if (p.toString.linesIterator.next().contains("pq_idx_test_")) true
        else if (p.children.length != 1) false
        else scanWithoutJoinBelow(p.children.head)
      val offending = plan.collect {
        case e: SparkPlan with ShuffleExchangeLike
            if e.children.exists(scanWithoutJoinBelow) => e
      }
      assert(offending.isEmpty,
        s"pqcodes table re-shuffled before its candidate join:\n$offending")
      // rebuild on a corpus subset: staged swap + generation bump, and
      // queries see only the new corpus
      Similarity.writePqIndex(emb.filter(col("vec_id") % 2 === 0),
        "pq_idx_test", nlist = 8, m = 4, kcent = 8, dim = 64,
        numBuckets = 4, residual = false)
      assert(Similarity.pqGeneration(spark, "pq_idx_test") == 1L)
      val rebuilt = Similarity.ivfPqTopKIndexed(queries, "pq_idx_test",
        k = 5, nprobe = 2, dim = 64)
      assert(rows(rebuilt.filter(col("neighbor_id") % 2 =!= 0)).isEmpty)
      assert(rebuilt.count() > 0)
      // half-present index (crash between the two swap commits): refuse
      graft.tables.Tables.dropTable(spark, "pq_idx_test_pqmeta")
      intercept[IllegalStateException] {
        Similarity.ivfPqTopKIndexed(queries, "pq_idx_test")
      }
    } finally Seq("_pqcodes", "_pqmeta").foreach(sfx =>
      graft.tables.Tables.dropTable(spark, "pq_idx_test" + sfx))
  }

  test("residual IVF-PQ (IVFADC): indexed == non-indexed bit for bit, " +
      "the res stamp rides the meta and dispatches automatically, and " +
      "residual recovers planted near-dups raw PQ erases") {
    import spark.implicits._
    // grouped near-dup corpus (the round-18 drill shape, miniature):
    // 40 groups x 5 members; group center = base(g % 8) + personal(g);
    // members add tiny noise. id = slot * 40 + g so centroid seeds
    // (first 8) and residual codebook seeds (next 8) hit distinct
    // groups.
    val nG = 40
    val corpus = (0 until nG * 5).map { i =>
      val g = i % nG; val s = i / nG
      val base = g % 8
      (i.toLong, Array.tabulate(16) { p =>
        (math.sin((base + 1) * (p + 1) * 0.7)
          + 0.3 * math.sin((g * 131 + p * 17) * 0.19)
          + 0.01 * math.sin((i * 37 + p * 101) * 0.13)).toFloat
      })
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id".between(nG + 20, nG + 23))
    // truth: each query's 4 siblings (same g, other slots)
    val truth = rows(Similarity.bruteForceTopK(corpus, queries, k = 4)
      .select("query_id", "neighbor_id")).map(r =>
      (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet
    assert(truth.forall { case (q, n) => q % nG == n % nG },
      "planted siblings must be the exact top-4")
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = rows(df.filter(col("rank") <= 4)
        .select("query_id", "neighbor_id")).map(r =>
        (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet
      (got intersect truth).size.toDouble / truth.size
    }
    val res = Similarity.ivfPqTopK(corpus, queries, k = 4, nlist = 8,
      nprobe = 8, m = 4, kcent = 8, dim = 16, residual = true)
    val raw = Similarity.ivfPqTopK(corpus, queries, k = 4, nlist = 8,
      nprobe = 8, m = 4, kcent = 8, dim = 16)
    assert(recallOf(res) > recallOf(raw) && recallOf(res) >= 0.75,
      s"residual=${recallOf(res)} raw=${recallOf(raw)}")
    // persisted twin: stamp + bit-identical to the in-memory path
    val base = "pq_res_spec"
    def drop(): Unit = Seq(s"${base}_pqcodes", s"${base}_pqmeta")
      .foreach(graft.tables.Tables.dropTable(spark, _))
    drop()
    try {
      Similarity.writePqIndex(corpus, base, nlist = 8, m = 4, kcent = 8,
        dim = 16, residual = true)
      assert(Similarity.pqIsResidual(spark, base))
      assert(spark.table(s"${base}_pqcodes").columns.contains("__corr"))
      val indexed = rows(Similarity.ivfPqTopKIndexed(queries, base,
        k = 4, nprobe = 8, dim = 16).orderBy("query_id", "rank"))
      assert(indexed == rows(res.orderBy("query_id", "rank")))
      // a raw rebuild drops the stamp and the corr column
      Similarity.writePqIndex(corpus, base, nlist = 8, m = 4, kcent = 8,
        dim = 16, residual = false)
      assert(!Similarity.pqIsResidual(spark, base))
      assert(!spark.table(s"${base}_pqcodes").columns.contains("__corr"))
    } finally drop()
  }

  test("ivfPqTopKRefined: exact re-rank recovers the code-flip losses " +
      "(refined == exact on planted near-dups where ADC-only missed); " +
      "a mismatched index pair refuses loudly") {
    import spark.implicits._
    val nG = 40
    val corpus = (0 until nG * 5).map { i =>
      val g = i % nG
      (i.toLong, Array.tabulate(16) { p =>
        (math.sin((g % 8 + 1) * (p + 1) * 0.7)
          + 0.3 * math.sin((g * 131 + p * 17) * 0.19)
          + 0.01 * math.sin((i * 37 + p * 101) * 0.13)).toFloat
      })
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id".between(nG + 20, nG + 23))
    val exact = rows(Similarity.bruteForceTopK(corpus, queries, k = 4)
      .orderBy("query_id", "rank"))
    val ivfBase = "ref_ivf_spec"; val pqBase = "ref_pq_spec"
    def drop(): Unit = Seq(s"${ivfBase}_cells", s"${ivfBase}_centroids",
      s"${pqBase}_pqcodes", s"${pqBase}_pqmeta")
      .foreach(graft.tables.Tables.dropTable(spark, _))
    drop()
    try {
      Similarity.writeIvfIndex(corpus, ivfBase, nlist = 8, dim = 16)
      Similarity.writePqIndex(corpus, pqBase, nlist = 8, m = 4, kcent = 8,
        dim = 16, residual = true)
      // shortlist 20 >> k=4: the exact re-rank over probed-all cells
      // must reproduce brute force on this margin structure
      val refined = rows(Similarity.ivfPqTopKRefined(queries, pqBase,
        ivfBase, k = 4, shortlist = 20, nprobe = 8, dim = 16)
        .orderBy("query_id", "rank"))
      assert(refined == exact,
        "refined two-stage must recover the exact top-4 here")
      // mismatched pair: rebuild the IVF half with a different nlist
      Similarity.writeIvfIndex(corpus, ivfBase, nlist = 4, dim = 16)
      val e = intercept[IllegalArgumentException] {
        Similarity.ivfPqTopKRefined(queries, pqBase, ivfBase, k = 4,
          shortlist = 20, nprobe = 4, dim = 16)
      }
      assert(e.getMessage.contains("index pair mismatch"))
    } finally drop()
  }

  test("quantizedCosineTopK: ranks like brute force on clean vectors; " +
      "zero vectors sink to the bottom") {
    val corpus = emb.union(Seq((5L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val q = emb.filter($"vec_id" === 1)
    val out = rows(Similarity.quantizedCosineTopK(corpus, q, k = 4)
      .orderBy("rank"))
    // int8 codes preserve the cosine order here: 2 (cos .8) > 3 (0) >
    // 4 (−1) > 5 (zero vector, −2 sentinel — NEVER NaN-first)
    assert(out == Seq(Seq(1L, 2L, 1L), Seq(1L, 3L, 2L),
      Seq(1L, 4L, 3L), Seq(1L, 5L, 4L)))
  }

  test("ndcgDiscountMicro: exact micro discounts, rank 1 undiscounted") {
    assert(Similarity.ndcgDiscountMicro(1) == 1000000L)
    assert(Similarity.ndcgDiscountMicro(3) == 500000L) // 1e6 / log2(4)
    assert(Similarity.ndcgDiscountMicro(2) == 630929L) // floor(1e6/log2 3)
  }

  test("rankingEval: hand-computed MRR/DCG/nDCG; zero-hit queries kept") {
    val truth = Seq(
      (1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L),
      (2L, 10L, 1L), (2L, 20L, 2L), (2L, 30L, 3L))
      .toDF("query_id", "neighbor_id", "rank")
    val cand = Seq(
      (1L, 20L, 1L), (1L, 99L, 2L), (1L, 30L, 3L),
      (2L, 40L, 1L), (2L, 50L, 2L), (2L, 60L, 3L))
      .toDF("query_id", "neighbor_id", "rank")
    val out = rows(Similarity.rankingEval(truth, cand, k = 3)
      .orderBy("query_id"))
    // q1: hits at candidate ranks 1 and 3 → mrr 1e6,
    //     dcg = 1000000 + 500000; idcg is the STANDARD ideal over the
    //     full truth list (3 relevant): 1000000 + 630929 + 500000,
    //     ndcg = 1500000·1000 DIV 2130929 = 703 — a 2-of-3 recall
    //     candidate must NOT score a perfect 1000
    assert(out(0) == Seq(1L, 2L, 1000000L, 1500000L, 2130929L, 703L))
    // q2: no hits → zeros against the same nonzero ideal
    assert(out(1) == Seq(2L, 0L, 0L, 0L, 2130929L, 0L))
  }

  test("calibrateNprobe: smallest power-of-two nprobe meeting the recall " +
      "target, measured curve is honest, unreachable target throws with " +
      "the curve") {
    // ring corpus: neighbors straddle cell boundaries, so nprobe = 1
    // under-recalls at nlist = 8 — the adversarial geometry
    val corpus = (1L to 64L).map { i =>
      (i, Array(math.cos(i * 0.0982).toFloat, math.sin(i * 0.0982).toFloat))
    }.toSeq.toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(corpus, nlist = 8, dim = 2)
    // calibrate on the FULL corpus as the sample: the recall promise is
    // about the calibration set, so only this makes exactness checkable
    val (np, curve) = Similarity.calibrateNprobe(corpus, cents,
      targetRecall = 1.0, k = 5, sample = 64, maxNprobe = 8)
    assert(curve.last._1 == np && curve.last._2 >= 1.0)
    // minimality: every earlier step in the ascent missed the target
    assert(curve.init.forall(_._2 < 1.0))
    // the chosen nprobe really delivers: compare ivfTopK at np vs brute
    val exact = rows(Similarity.bruteForceTopK(corpus, corpus, k = 5)
      .select("query_id", "neighbor_id")).toSet
    val got = rows(Similarity.ivfTopK(corpus, corpus, k = 5, nlist = 8,
      nprobe = np, dim = 2).select("query_id", "neighbor_id")).toSet
    assert(got == exact, "recall-1.0 calibration must reproduce exact")
    // a SMALL sample's choice need not generalize to unseen queries —
    // that is the documented contract (calibrate on the workload); pin
    // only that the small-sample ascent still returns a valid nprobe
    val (npSmall, curveSmall) = Similarity.calibrateNprobe(corpus, cents,
      targetRecall = 1.0, k = 5, sample = 16, maxNprobe = 8)
    assert(npSmall >= 1 && npSmall <= 8 && curveSmall.last._2 >= 1.0)
    // unreachable: cap the ascent below the needed nprobe
    if (np > 1) {
      val e = intercept[IllegalArgumentException] {
        Similarity.calibrateNprobe(corpus, cents, targetRecall = 1.0,
          k = 5, sample = 64, maxNprobe = 1)
      }
      assert(e.getMessage.contains("unreachable") &&
        e.getMessage.contains("nprobe=1"))
    }
  }

  test("writeIvfIndex(targetRecall): calibrated nprobe persists with the " +
      "index and drives autoNprobe queries; uncalibrated index refuses " +
      "autoNprobe loudly") {
    val corpus = (1L to 64L).map { i =>
      (i, Array(math.cos(i * 0.0982).toFloat, math.sin(i * 0.0982).toFloat))
    }.toSeq.toDF("vec_id", "embedding")
    val base = "ivf_cal_spec"
    def drop(): Unit = Seq(s"${base}_cells", s"${base}_centroids")
      .foreach(graft.tables.Tables.dropTable(spark, _))
    drop()
    try {
      Similarity.writeIvfIndex(corpus, base, nlist = 8, dim = 2,
        targetRecall = Some(1.0), recallK = 5, recallSample = 16,
        maxNprobe = 8)
      val cal = Similarity.calibratedNprobe(spark, base)
      assert(cal.nonEmpty && cal.get >= 1 && cal.get <= 8)
      val q = corpus.filter($"vec_id" <= 4)
      val auto = rows(Similarity.ivfTopKAgainstIndex(q, base, k = 5,
        dim = 2, autoNprobe = true).orderBy("query_id", "rank"))
      val manual = rows(Similarity.ivfTopKAgainstIndex(q, base, k = 5,
        nprobe = cal.get, dim = 2).orderBy("query_id", "rank"))
      assert(auto == manual && auto.nonEmpty)
      // the tiered entry point reads the same calibration (empty delta
      // tree -> bulk-only, so it must equal the indexed auto query)
      val emptyDelta = java.nio.file.Files
        .createTempDirectory("ivf_cal_delta").toString
      val tieredAuto = rows(Similarity.ivfTopKTiered(q, base, emptyDelta,
        k = 5, autoNprobe = true).orderBy("query_id", "rank"))
      assert(tieredAuto == auto)
      // rebuild WITHOUT a target: calibration column null -> auto throws
      Similarity.writeIvfIndex(corpus, base, nlist = 8, dim = 2)
      assert(Similarity.calibratedNprobe(spark, base).isEmpty)
      val e = intercept[IllegalStateException] {
        Similarity.ivfTopKAgainstIndex(q, base, k = 5, dim = 2,
          autoNprobe = true).collect()
      }
      assert(e.getMessage.contains("no calibration"))
    } finally drop()
  }

  test("writePqIndex(targetRecall): ADC-scored calibration persists as a " +
      "cal meta row, drives autoNprobe, and names quantization when the " +
      "codes cap recall below the target") {
    val corpus = (1L to 64L).map { i =>
      (i, Array(math.cos(i * 0.0982).toFloat, math.sin(i * 0.0982).toFloat))
    }.toSeq.toDF("vec_id", "embedding")
    val base = "pq_cal_spec"
    def drop(): Unit = Seq(s"${base}_pqcodes", s"${base}_pqmeta")
      .foreach(graft.tables.Tables.dropTable(spark, _))
    drop()
    try {
      // a modest target the ADC ranking can reach on this geometry
      Similarity.writePqIndex(corpus, base, nlist = 8, m = 2, kcent = 16,
        dim = 2, targetRecall = Some(0.5), recallK = 5, recallSample = 32,
        maxNprobe = 8, residual = false)
      val cal = Similarity.calibratedPqNprobe(spark, base)
      assert(cal.nonEmpty && cal.get >= 1 && cal.get <= 8)
      // generation survives: the cal row carries the same gen
      assert(Similarity.pqGeneration(spark, base) == 0L)
      val q = corpus.filter($"vec_id" <= 4)
      val auto = rows(Similarity.ivfPqTopKIndexed(q, base, k = 5,
        dim = 2, autoNprobe = true).orderBy("query_id", "rank"))
      val manual = rows(Similarity.ivfPqTopKIndexed(q, base, k = 5,
        nprobe = cal.get, dim = 2).orderBy("query_id", "rank"))
      assert(auto == manual && auto.nonEmpty)
      // uncalibrated rebuild: cal row gone, autoNprobe refuses
      Similarity.writePqIndex(corpus, base, nlist = 8, m = 2, kcent = 16,
        dim = 2, residual = false)
      assert(Similarity.calibratedPqNprobe(spark, base).isEmpty)
      val e = intercept[IllegalStateException] {
        Similarity.ivfPqTopKIndexed(q, base, k = 5, dim = 2,
          autoNprobe = true).collect()
      }
      assert(e.getMessage.contains("no calibration"))
      // an unreachable target at FULL probe blames the codes, loudly
      val e2 = intercept[IllegalArgumentException] {
        Similarity.writePqIndex(corpus, base, nlist = 8, m = 1, kcent = 2,
          dim = 2, targetRecall = Some(1.0), recallK = 5,
          recallSample = 64, maxNprobe = 8, residual = false)
      }
      assert(e2.getMessage.contains("quantization"), e2.getMessage)
    } finally drop()
  }

  test("writeIvfIndex(iters > 0) trains integer-exact: identical " +
      "centroid tables across different input partitionings") {
    val corpus = (1L to 64L).map { i =>
      (i, Array(math.cos(i * 0.0982).toFloat, math.sin(i * 0.0982).toFloat))
    }.toSeq.toDF("vec_id", "embedding")
    def build(base: String, parts: Int): Seq[Seq[Any]] = {
      Seq(s"${base}_cells", s"${base}_centroids")
        .foreach(graft.tables.Tables.dropTable(spark, _))
      Similarity.writeIvfIndex(corpus.repartition(parts), base,
        nlist = 4, dim = 2, iters = 2)
      val out = rows(spark.table(s"${base}_centroids")
        .select("cell", "centroid").orderBy("cell"))
      Seq(s"${base}_cells", s"${base}_centroids")
        .foreach(graft.tables.Tables.dropTable(spark, _))
      out
    }
    val a = build("ivf_det_a", 7)
    val b = build("ivf_det_b", 3)
    assert(a == b && a.nonEmpty,
      "Lloyd-refined centroids must be partitioning-independent")
  }

  test("ivfTopK and writeIvfIndex refuse an empty corpus loudly (no bare " +
      "head-of-empty from withIvfCell)") {
    val empty = emb.filter($"vec_id" < 0)
    val q = emb.filter($"vec_id" === 1)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(empty, q, k = 2, nlist = 2, nprobe = 1, dim = 2)
        .collect()
    }
    assert(e1.getMessage.contains("at least one centroid"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_empty").toString
    val e2 = intercept[IllegalArgumentException] {
      Similarity.writeIvfIndex(empty, s"$dir/idx", nlist = 2, dim = 2)
    }
    assert(e2.getMessage.contains("at least one centroid"))
  }

  /** The round-18 grouped near-dup corpus shape (40 groups x 5
   * members), shared by the round-19 calibration tests. */
  private def groupedCorpus = {
    val nG = 40
    (0 until nG * 5).map { i =>
      val g = i % nG
      (i.toLong, Array.tabulate(16) { p =>
        (math.sin((g % 8 + 1) * (p + 1) * 0.7)
          + 0.3 * math.sin((g * 131 + p * 17) * 0.19)
          + 0.01 * math.sin((i * 37 + p * 101) * 0.13)).toFloat
      })
    }.toDF("vec_id", "embedding")
  }

  test("calibrateRefined: joint (nprobe, shortlist) ascent tries every " +
      "shortlist before another probe, persists as cal_ref, and " +
      "ivfPqTopKRefined(autoNprobe) reads the pair; an uncalibrated " +
      "index refuses loudly") {
    val corpus = groupedCorpus
    val pqBase = "calref_pq_spec"; val ivfBase = "calref_ivf_spec"
    def drop(): Unit = Seq(s"${pqBase}_pqcodes", s"${pqBase}_pqmeta",
      s"${ivfBase}_cells", s"${ivfBase}_centroids")
      .foreach(graft.tables.Tables.dropTable(spark, _))
    drop()
    try {
      Similarity.writeIvfIndex(corpus, ivfBase, nlist = 8, dim = 16)
      Similarity.writePqIndex(corpus, pqBase, nlist = 8, m = 4, kcent = 8,
        dim = 16, refinedTargetRecall = Some(0.9), recallK = 4,
        recallSample = 16, maxNprobe = 8, maxShortlist = 64)
      val calOpt = Similarity.calibratedRefined(spark, pqBase)
      assert(calOpt.nonEmpty, "cal_ref meta row must persist")
      val (np, sh) = calOpt.get
      assert(np >= 1 && np <= 8 && sh >= 4 && sh <= 64)
      // a fresh direct calibration reproduces the persisted choice
      // (deterministic end to end) and its curve ascends shortlists
      // within each nprobe before adding a probe
      val (cents, books) = Similarity.pqRouting(spark, pqBase)
      val ((np2, sh2), curve) = Similarity.calibrateRefined(corpus, cents,
        books, targetRecall = 0.9, k = 4, sample = 16, maxNprobe = 8,
        maxShortlist = 64, dim = 16, residual = true)
      assert((np2, sh2) == (np, sh))
      val firstNp = curve.head._1
      val withinFirst = curve.takeWhile(_._1 == firstNp).map(_._2)
      assert(withinFirst == withinFirst.sorted,
        "shortlist must ascend within a probe step")
      assert(curve.map(_._1) == curve.map(_._1).sorted,
        "probe steps must ascend")
      // autoNprobe reads the pair; identical to passing it explicitly
      val q = corpus.filter($"vec_id".between(60, 63))
      val auto = rows(Similarity.ivfPqTopKRefined(q, pqBase, ivfBase,
        k = 4, dim = 16, autoNprobe = true).orderBy("query_id", "rank"))
      val manual = rows(Similarity.ivfPqTopKRefined(q, pqBase, ivfBase,
        k = 4, shortlist = sh, nprobe = np, dim = 16)
        .orderBy("query_id", "rank"))
      assert(auto == manual && auto.nonEmpty)
      // the chosen pair delivers the target on the calibration sample:
      // recall of the refined top-4 vs brute, same deterministic sample
      // rule (self-sample, 16 lowest xxhash64 ids)
      val sampleQ = corpus
        .orderBy(org.apache.spark.sql.functions.xxhash64(col("vec_id")),
          col("vec_id")).limit(16)
      val truth = rows(Similarity.bruteForceTopK(corpus, sampleQ, k = 4)
        .select("query_id", "neighbor_id")).toSet
      val got = rows(Similarity.ivfPqTopKRefined(sampleQ, pqBase, ivfBase,
        k = 4, shortlist = sh, nprobe = np, dim = 16)
        .select("query_id", "neighbor_id")).toSet
      assert((got intersect truth).size.toDouble / truth.size >= 0.9)
      // a rebuild WITHOUT refinedTargetRecall drops cal_ref and
      // autoNprobe refuses with the rebuild remedy
      Similarity.writePqIndex(corpus, pqBase, nlist = 8, m = 4,
        kcent = 8, dim = 16)
      assert(Similarity.calibratedRefined(spark, pqBase).isEmpty)
      val e = intercept[IllegalStateException] {
        Similarity.ivfPqTopKRefined(q, pqBase, ivfBase, k = 4, dim = 16,
          autoNprobe = true)
      }
      assert(e.getMessage.contains("refinedTargetRecall"))
    } finally drop()
  }

  test("workload-shift fingerprint: calibrate on group-family A, query " +
      "family B -> the guard fires (warn returns the shift fraction, " +
      "refuse throws); same-family queries pass silently; off skips; " +
      "an index without a fingerprint silently passes (back-compat)") {
    // two planted-cluster families over DISJOINT base frequencies: B's
    // vectors point nowhere near any of A's routing centroids, which is
    // exactly the r18 0.675-vs-0.522 shift configuration in miniature
    def family(firstBase: Int, idOffset: Long) =
      (0 until 160).map { i =>
        val g = i % 8
        (idOffset + i, Array.tabulate(16) { p =>
          (math.sin((g + firstBase) * (p + 1) * 0.7)
            + 0.02 * math.sin((i * 37 + p * 101) * 0.13)).toFloat
        })
      }.toDF("vec_id", "embedding")
    val famA = family(1, 0L)
    val famB = family(40, 5000L)
    val base = "shift_guard_pq"
    def drop(): Unit = Seq(s"${base}_pqcodes", s"${base}_pqmeta")
      .foreach(graft.tables.Tables.dropTable(spark, _))
    drop()
    try {
      Similarity.writePqIndex(famA, base, nlist = 8, m = 4, kcent = 8,
        dim = 16, targetRecall = Some(0.5), recallK = 4,
        recallSample = 16, maxNprobe = 8, marginZ = 0.0,
        calibrationQueries = Some(famA.filter(col("vec_id") >= 100)))
      val fp = Similarity.pqCalibrationFingerprint(spark, base)
      assert(fp.exists(f => f._1 == 16 && f._2.length == 11), s"fp: $fp")
      // same family (held-out ids the calibration sample never saw):
      // silent — the fraction sits at/below the p10 tail by construction
      val sameFrac = Similarity.checkWorkloadShift(
        famA.filter(col("vec_id") < 100), base)
      assert(sameFrac.exists(_ <= 0.5), s"same-family frac: $sameFrac")
      // family B: the guard fires — warn mode returns the fraction…
      val shiftFrac = Similarity.checkWorkloadShift(famB, base)
      assert(shiftFrac.exists(_ > 0.5), s"shifted frac: $shiftFrac")
      // …refuse mode throws, naming the fingerprint comparison…
      val e = intercept[IllegalStateException] {
        Similarity.checkWorkloadShift(famB, base, guard = "refuse")
      }
      assert(e.getMessage.contains("workload shift"))
      assert(e.getMessage.contains("recalibrate") ||
        e.getMessage.contains("Recalibrate"))
      // …and the wired query path enforces it under autoNprobe
      val e2 = intercept[IllegalStateException] {
        Similarity.ivfPqTopKIndexed(famB, base, k = 4, dim = 16,
          autoNprobe = true, shiftGuard = "refuse").collect()
      }
      assert(e2.getMessage.contains("workload shift"))
      // off skips without touching the fingerprint
      assert(Similarity.checkWorkloadShift(famB, base, guard = "off")
        .isEmpty)
      // an uncalibrated rebuild has no fingerprint: guard passes
      // silently (pre-round-20 indexes keep working)
      Similarity.writePqIndex(famA, base, nlist = 8, m = 4, kcent = 8,
        dim = 16)
      assert(Similarity.pqCalibrationFingerprint(spark, base).isEmpty)
      assert(Similarity.checkWorkloadShift(famB, base).isEmpty)
    } finally drop()
  }

  test("workload-shift fingerprint, IVF twin: a recall-targeted " +
      "writeIvfIndex persists cal_fp; family B refuses through " +
      "ivfTopKAgainstIndex(autoNprobe), same-family passes, an " +
      "uncalibrated rebuild passes silently") {
    def family(firstBase: Int, idOffset: Long) =
      (0 until 160).map { i =>
        val g = i % 8
        (idOffset + i, Array.tabulate(16) { p =>
          (math.sin((g + firstBase) * (p + 1) * 0.7)
            + 0.02 * math.sin((i * 37 + p * 101) * 0.13)).toFloat
        })
      }.toDF("vec_id", "embedding")
    val famA = family(1, 0L)
    val famB = family(40, 5000L)
    val base = "shift_guard_ivf"
    def drop(): Unit = Seq(s"${base}_cells", s"${base}_centroids")
      .foreach(graft.tables.Tables.dropTable(spark, _))
    drop()
    try {
      Similarity.writeIvfIndex(famA, base, nlist = 8, dim = 16,
        targetRecall = Some(0.5), recallK = 4, recallSample = 16,
        maxNprobe = 8, marginZ = 0.0,
        calibrationQueries = Some(famA.filter(col("vec_id") >= 100)))
      val fp = Similarity.ivfCalibrationFingerprint(spark, base)
      assert(fp.exists(f => f._1 == 16 && f._2.length == 11), s"fp: $fp")
      assert(Similarity.checkIvfWorkloadShift(
        famA.filter(col("vec_id") < 100), base).exists(_ <= 0.5))
      assert(Similarity.checkIvfWorkloadShift(famB, base)
        .exists(_ > 0.5))
      val e = intercept[IllegalStateException] {
        Similarity.ivfTopKAgainstIndex(famB, base, k = 4, dim = 16,
          autoNprobe = true, shiftGuard = "refuse").collect()
      }
      assert(e.getMessage.contains("workload shift") &&
        e.getMessage.contains("IVF index"))
      assert(Similarity.checkIvfWorkloadShift(famB, base, guard = "off")
        .isEmpty)
      Similarity.writeIvfIndex(famA, base, nlist = 8, dim = 16)
      assert(Similarity.ivfCalibrationFingerprint(spark, base).isEmpty)
      assert(Similarity.checkIvfWorkloadShift(famB, base).isEmpty)
    } finally drop()
  }

  test("calibration dispersion margin: a larger z never accepts earlier, " +
      "an exact-recall step (zero dispersion) always accepts, and a " +
      "point estimate inside the margin refuses naming the margin") {
    val corpus = groupedCorpus
    val cents = Similarity.trainIvfCentroids(corpus, 8, 16)
    val (np0, _) = Similarity.calibrateNprobe(corpus, cents,
      targetRecall = 0.8, k = 4, sample = 16, maxNprobe = 8, marginZ = 0.0)
    val (npZ, curveZ) = Similarity.calibrateNprobe(corpus, cents,
      targetRecall = 0.8, k = 4, sample = 16, maxNprobe = 8, marginZ = 50.0)
    // z=50 only accepts a (near-)zero-dispersion step; probing all 8
    // cells IS brute force (recall exactly 1.0, sd 0), so the ascent
    // terminates there at the latest — and never before the z=0 choice
    assert(npZ >= np0)
    assert(curveZ.last._2 == 1.0 || npZ == np0)
    // PQ path: set the target AT the measured full-probe ADC recall —
    // the point estimate meets it exactly, so with a huge z the refusal
    // must blame the dispersion margin, not the probes or the codes
    val (_, books) = {
      val base = "margin_pq_spec"
      Seq(s"${base}_pqcodes", s"${base}_pqmeta")
        .foreach(graft.tables.Tables.dropTable(spark, _))
      Similarity.writePqIndex(corpus, base, nlist = 8, m = 4, kcent = 8,
        dim = 16)
      val r = Similarity.pqRouting(spark, base)
      Seq(s"${base}_pqcodes", s"${base}_pqmeta")
        .foreach(graft.tables.Tables.dropTable(spark, _))
      r
    }
    val sampleQ = corpus
      .orderBy(org.apache.spark.sql.functions.xxhash64(col("vec_id")),
        col("vec_id")).limit(16)
    val truth = rows(Similarity.bruteForceTopK(corpus, sampleQ, k = 4)
      .select("query_id", "neighbor_id")).toSet
    val gotFull = rows(Similarity.ivfPqTopK(corpus, sampleQ, k = 4,
      nlist = 8, nprobe = 8, m = 4, kcent = 8, dim = 16, residual = true)
      .select("query_id", "neighbor_id")).toSet
    val plateau = (gotFull intersect truth).size.toDouble / truth.size
    assume(plateau > 0.0 && plateau < 1.0,
      s"margin-refusal drill needs a mid-range plateau, got $plateau")
    val e = intercept[IllegalArgumentException] {
      Similarity.calibratePqNprobe(corpus, cents, books,
        targetRecall = plateau, k = 4, sample = 16, maxNprobe = 8,
        dim = 16, residual = true, marginZ = 50.0)
    }
    assert(e.getMessage.contains("dispersion margin"), e.getMessage)
  }

  test("residual is the default writePqIndex build; a non-empty corpus " +
      "with <= nlist rows refuses residual seeding loudly (raw still " +
      "works); verifyPqIndex audits __corr") {
    val corpus = groupedCorpus
    val base = "pq_corr_spec"
    def drop(): Unit = Seq(s"${base}_pqcodes", s"${base}_pqmeta")
      .foreach(graft.tables.Tables.dropTable(spark, _))
    drop()
    try {
      // round-19 default: residual (IVFADC) without the caller knowing
      // the word — and the calibrated build SUCCEEDS on the grouped
      // corpus where the raw path's refusal drill fired in round 18
      Similarity.writePqIndex(corpus, base, nlist = 8, m = 4, kcent = 8,
        dim = 16, targetRecall = Some(0.7), recallK = 4,
        recallSample = 16, maxNprobe = 8)
      assert(Similarity.pqIsResidual(spark, base))
      assert(Similarity.verifyPqIndex(spark, base).count() == 0)
      // corrupt one row's __corr out-of-band: the audit flags exactly it
      val corrupted = spark.table(s"${base}_pqcodes")
        .withColumn("__corr", org.apache.spark.sql.functions
          .when(col("vec_id") === 0L, org.apache.spark.sql.functions
            .lit(null)).otherwise(col("__corr")))
        .localCheckpoint(true)
      graft.tables.Tables.stageBucketedSwap(corrupted,
        s"${base}_pqcodes", "cell", 8)
      graft.tables.Tables.commitSwaps(spark, Seq(s"${base}_pqcodes"))
      val bad = rows(Similarity.verifyPqIndex(spark, base))
      assert(bad.size == 1 && bad.head.head == 0L)
      // a residual-stamped index whose codes table lost __corr entirely
      // refuses with the rebuild remedy instead of mis-scoring
      val stripped = spark.table(s"${base}_pqcodes").drop("__corr")
        .localCheckpoint(true)
      graft.tables.Tables.stageBucketedSwap(stripped,
        s"${base}_pqcodes", "cell", 8)
      graft.tables.Tables.commitSwaps(spark, Seq(s"${base}_pqcodes"))
      val e0 = intercept[IllegalArgumentException] {
        Similarity.verifyPqIndex(spark, base)
      }
      assert(e0.getMessage.contains("__corr"))
    } finally drop()
    // residual seeding guard: 8 rows at nlist=8 leaves zero residual
    // seeds (every row IS a centroid seed) — loud, actionable, and raw
    // mode still works on the same corpus; a genuinely empty corpus
    // keeps the empty-result short-circuit
    val tiny = (0L until 8L).map(i =>
      (i, Array.tabulate(16)(p => math.sin(i * 3 + p).toFloat)))
      .toDF("vec_id", "embedding")
    val q = tiny.filter($"vec_id" < 2)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(tiny, q, k = 2, nlist = 8, nprobe = 8,
        m = 4, kcent = 4, dim = 16, residual = true).collect()
    }
    assert(e.getMessage.contains("LARGER than nlist"))
    assert(Similarity.ivfPqTopK(tiny, q, k = 2, nlist = 8, nprobe = 8,
      m = 4, kcent = 4, dim = 16, residual = false).count() > 0)
    val empty = tiny.filter($"vec_id" < 0)
    assert(Similarity.ivfPqTopK(empty, q, k = 2, nlist = 8, nprobe = 8,
      m = 4, kcent = 4, dim = 16, residual = true).count() == 0)
  }
}
