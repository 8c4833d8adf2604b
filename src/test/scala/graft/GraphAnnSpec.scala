package graft

import org.apache.spark.sql.functions._

import graft.queries.VectorOps.{DriverFrontier, ServeSpec}

/** v17 graph-navigation serving: determinism, output contract, and the
  * hub-edge escape property that motivates the graph shape (a purely
  * cell-local graph caps recall at the entry cells' contents —
  * measured 4/60 at degree 3 vs 35/60 with hubs at the gate SF). */
class GraphAnnSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("beam walk is deterministic: two runs serve identical sets") {
    val a = graft.queries.VectorOps
      .serve(spark, sf, ServeSpec(beam = 16, maxHops = 3))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = graft.queries.VectorOps
      .serve(spark, sf, ServeSpec(beam = 16, maxHops = 3))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("output contract: <=3 neighbors per query, never self, all " +
      "queries served") {
    val rows = graft.queries.VectorOps
      .serve(spark, sf, ServeSpec(beam = 16, maxHops = 3))._1
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.forall { case (q, c) => q != c })
    val perQ = rows.groupBy(_._1).map { case (_, v) => v.length }
    assert(perQ.forall(_ <= 3))
    assert(rows.map(_._1).toSet == (0L until 20L).toSet,
      "every query in vec_id < 20 must be served")
  }

  test("final per-query cut is the TopKPerKey heap, not a window") {
    val p = graft.queries.VectorOps
      .serve(spark, sf, ServeSpec(beam = 16, maxHops = 3))._1
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("TopKPerKey"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("ADC walk (v19): deterministic, contract-clean, and the final " +
      "answer comes from the exact re-rank of the last beam") {
    val a = graft.queries.VectorOps.serve(spark, sf,
        ServeSpec(beam = 16, maxHops = 3, scoring = ServeSpec.Adc))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = graft.queries.VectorOps.serve(spark, sf,
        ServeSpec(beam = 16, maxHops = 3, scoring = ServeSpec.Adc))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    assert(a.nonEmpty)
    assert(a.forall { case (q, c) => q != c })
    assert(a.groupBy(_._1).forall { case (_, v) => v.size <= 3 })
    // the exact-cosine walk and the ADC walk agree on SOME neighbors
    // (same graph, same entries) but the ADC compass is lossy — they
    // need not be identical; both must serve every query
    assert(a.map(_._1) == (0L until 20L).toSet)
  }

  test("the served graph is a stored artifact: the edge/medoid frames " +
      "TrainedIndex.graph returns are pure parquet scans — no join, " +
      "no aggregate, no exchange (the build never runs at serve time)") {
    val (edges, medoids) = graft.queries.TrainedIndex
      .graph(spark, sf, degree = 16, kCells = 8)
    Seq("edges" -> edges, "medoids" -> medoids).foreach { case (n, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("FileScan parquet"), s"$n: ${p.take(500)}")
      Seq("Join", "HashAggregate", "Exchange", "TopKPerKey").foreach { op =>
        assert(!p.contains(op), s"$n plan contains $op — the serving " +
          s"path is rebuilding: ${p.take(800)}")
      }
    }
    // and the loaded graph is non-trivial (hub edges included:
    // out-degree can exceed the kNN degree by 1)
    assert(edges.count() > 0 && medoids.count() > 0)
  }

  test("a hop is a point lookup: the frontier's src ids reach the " +
      "stored edge scan as PushedFilters, and the expansion equals " +
      "the unpruned join") {
    val s = spark
    import s.implicits._
    val (edges, _) = graft.queries.TrainedIndex
      .graph(spark, sf, degree = 16, kCells = 8)
    val frontier = edges.select(col("src").as("cid")).distinct()
      .orderBy(col("cid")).limit(3)
      .withColumn("qid", lit(0L)).select(col("qid"), col("cid"))
      .localCheckpoint(true)
    val hop = graft.queries.VectorOps
      .hopEdgesOf(edges, DriverFrontier.of(frontier))
    val p = hop.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      Seq("In(src", "in(src").exists(p.contains), p.take(1200))
    // pruning is a semantic no-op: same rows as the plain join
    val plain = edges
      .join(frontier.select(col("qid"), col("cid").as("src")), Seq("src"))
      .select(col("qid"), col("dst").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = hop.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == plain && pruned.nonEmpty)
  }

  test("a serving-sized hop (>10 ids — past parquet's " +
      "inFilterThreshold) still pushes the In filter and equals the " +
      "plain join") {
    val (edges, _) = graft.queries.TrainedIndex
      .graph(spark, sf, degree = 16, kCells = 8)
    // 16 distinct src ids: above the parquet reader's 10-value OR
    // expansion threshold, so the row-group filter is the ids' min/max
    // RANGE — the pushed data-source filter is still In(src, ...)
    // (GraphAnnSpec's 3-id case never exercised this regime; the
    // src-sorted edge artifact is what keeps the range tight)
    val frontier = edges.select(col("src").as("cid")).distinct()
      .orderBy(col("cid")).limit(16)
      .withColumn("qid", lit(0L)).select(col("qid"), col("cid"))
      .localCheckpoint(true)
    assert(frontier.count() == 16)
    val hop = graft.queries.VectorOps
      .hopEdgesOf(edges, DriverFrontier.of(frontier))
    val p = hop.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      Seq("In(src", "in(src").exists(p.contains), p.take(1200))
    val plain = edges
      .join(frontier.select(col("qid"), col("cid").as("src")), Seq("src"))
      .select(col("qid"), col("dst").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = hop.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == plain && pruned.nonEmpty)
  }

  test("above the pushdown cap the hop flips to the plain broadcast " +
      "join — no id literals in the scan, same rows (VERDICT r13 #2: " +
      "a fleet-sized frontier must not inline 10^5 literals)") {
    val (edges, _) = graft.queries.TrainedIndex
      .graph(spark, sf, degree = 16, kCells = 8)
    val frontier = edges.select(col("src").as("cid")).distinct()
      .orderBy(col("cid")).limit(16)
      .withColumn("qid", lit(0L)).select(col("qid"), col("cid"))
      .localCheckpoint(true)
    val hop = graft.queries.VectorOps.hopEdgesOf(edges,
      DriverFrontier.of(frontier), maxPushIds = 8) // 16 ids > cap of 8
    val p = hop.queryExecution.executedPlan.toString
    assert(!Seq("In(src", "in(src").exists(p.contains),
      "above-cap arm must not inline frontier ids: " + p.take(1200))
    val plain = edges
      .join(frontier.select(col("qid"), col("cid").as("src")), Seq("src"))
      .select(col("qid"), col("dst").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val flipped = hop.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flipped == plain && flipped.nonEmpty)
  }

  test("refined kernels (v17d exact / v21 ADC): deterministic, " +
      "contract-clean, and the final cut is the TopKPerKey heap") {
    def check(df: => org.apache.spark.sql.DataFrame): Unit = {
      val a = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == b && a.nonEmpty)
      assert(a.forall { case (q, c) => q != c })
      assert(a.groupBy(_._1).forall { case (_, v) => v.size <= 3 })
      assert(a.map(_._1) == (0L until 20L).toSet,
        "every query in vec_id < 20 must be served")
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("TopKPerKey"), p.take(2000))
      assert(!p.contains("Window"), p.take(2000))
    }
    check(graft.queries.VectorOps.serve(spark, sf, ServeSpec(beam = 8,
      maxHops = 2, degree = 8, kCells = 8, entries = 4,
      refine = Some(2)))._1)
    check(graft.queries.VectorOps.serve(spark, sf, ServeSpec(beam = 8,
      maxHops = 2, scoring = ServeSpec.Adc, degree = 8, kCells = 8,
      entries = 4, refine = Some(2), shortlist = Some(16)))._1)
  }

  test("the refined union can only help: v17d's served set per query " +
      "scores >= the walk-only set under the exact cosine (the union " +
      "is a superset of the walk's final beam)") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val vecs = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    def scoreOf(rows: Array[(Long, Long)]): Map[Long, Double] =
      rows.groupBy(_._1).map { case (q, v) =>
        q -> v.map { case (_, c) => cos(vecs(q), vecs(c)) }.sum
      }
    val spec = ServeSpec(beam = 8, maxHops = 2, degree = 8, kCells = 8,
      entries = 4)
    val walk = scoreOf(graft.queries.VectorOps.serve(spark, sf, spec)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    val refined = scoreOf(graft.queries.VectorOps
      .serve(spark, sf, spec.copy(refine = Some(2)))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    walk.keys.foreach { q =>
      assert(refined(q) >= walk(q) - 1e-12,
        s"query $q: refined top-3 cosine sum ${refined(q)} < walk's " +
          s"${walk(q)} — the union dropped a walk candidate")
    }
  }

  test("hub edges escape the entry cells: served neighbors include " +
      "nodes outside the query's 2 probed cells") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val cent = graft.queries.TrainedIndex.centroids(spark, sf, k = 8)
    val asg = e.select(col("vec_id"),
        (-element_at(graft.queries.VectorOps
          .nearestCells(cent, "embedding", 1), 1)
          .getField("nc")).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // probed cells per query, computed with the kernel's own helper
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"),
        explode(graft.queries.VectorOps
          .nearestCells(cent, "embedding", 2)).as("pc"))
      .select(col("qid"), (-col("pc.nc")).as("cell"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val served = graft.queries.VectorOps
      .serve(spark, sf, ServeSpec(beam = 16, maxHops = 3))._1
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val escapes = served.count { case (q, c) =>
      !probes(q).contains(asg(c))
    }
    assert(escapes > 0,
      "no served neighbor outside the entry cells — hub edges dead")
  }

  test("the scaled shortlist rule (v21b/st19c): exact integer ceil of " +
      "the 20%-of-union knee, reproducing R=128 at the sf0.1 gate " +
      "geometry, and the SQL twin embeds the identical constants") {
    import graft.queries.VectorOps.{scaledShortlist, scaledShortlistSql}
    // the three fixture sizes: verify SF, bench SF, the 10x fixture
    assert(scaledShortlist(500L, refine = 8, kCells = 25) == 32)
    assert(scaledShortlist(2000L, refine = 8, kCells = 25) == 128)
    assert(scaledShortlist(20000L, refine = 8, kCells = 25) == 1280)
    // ceil, not floor: one extra row must round the cut UP
    assert(scaledShortlist(501L, refine = 8, kCells = 25) == 33)
    // monotone in n — a growing corpus can never shrink the shortlist
    val rs = (1L to 4000L by 7).map(scaledShortlist(_, 8, 25))
    assert(rs.zip(rs.tail).forall { case (a, b) => a <= b })
    // the oracle's scalar subquery is the SAME integer ceil-division
    // (numerator bump = den - 1, integer // by den) over the SAME
    // table the engine counts
    val sql = scaledShortlistSql(refine = 8, kCells = 25)
    assert(sql.contains("8*count(*) + 124") && sql.contains("// 125") &&
      sql.contains("FROM embeddings"), sql)
  }

  test("v22 vamana build contract: deterministic edge set, out-degree " +
      "exactly the degree budget (keepPruned fill), no self-loops") {
    val (e1, _) = graft.queries.VectorOps
      .buildVamanaGraph(spark, sf, degree = 16, kCells = 8)
    val edges1 = e1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (e2, _) = graft.queries.VectorOps
      .buildVamanaGraph(spark, sf, degree = 16, kCells = 8)
    val edges2 = e2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges1 == edges2 && edges1.nonEmpty)
    val perSrc = edges1.groupBy(_._1).map { case (_, v) => v.size }
    assert(perSrc.forall(_ <= 16),
      s"out-degree exceeded the budget: max=${perSrc.max}")
    assert(perSrc.forall(_ == 16),
      "the keepPruned fill must reach the full budget on this " +
        "fixture (every pool has >degree members)")
    assert(edges1.forall { case (s0, d0) => s0 != d0 })
  }

  test("v22 serve is deterministic and meets the output contract") {
    val spec = ServeSpec(beam = 16, maxHops = 2, graph = ServeSpec.Vamana,
      degree = 16, kCells = 8, entries = 2)
    val a = graft.queries.VectorOps.serve(spark, sf, spec)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = graft.queries.VectorOps.serve(spark, sf, spec)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
    assert(a.forall { case (q, c) => q != c })
    assert(a.groupBy(_._1).forall { case (_, v) => v.size <= 3 })
    assert(a.map(_._1) == (0L until 20L).toSet,
      "every query in vec_id < 20 must be served")
  }

  test("st19 parity (gate demoted per VERDICT r14 #2): the stream-" +
      "maintained kCells=8 store serves the SAME rows as the batch-" +
      "built artifact graph at the serving degree, and its edge set " +
      "equals the batch build edge for edge") {
    val store = graft.queries.Windows.buildMaintainedStore(
      spark, sf, kCells = 8, "graft_st19p_")
    val (edges, f0) = graft.queries.Windows.maintainedServe(spark, store)
    // edge-set equality: the top-k merge monoid at the serving degree
    val maintainedEdges = edges.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (batchEdges, _) = graft.queries.TrainedIndex
      .graph(spark, sf, degree = 16, kCells = 8)
    val batchSet = batchEdges.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintainedEdges == batchSet,
      "streamed lists + hub must equal the batch build edge for edge")
    // serve parity: the ADC walk off the maintained store equals the
    // walk off the batch artifacts (the demoted gate's hashed subject)
    val maintained = graft.queries.VectorOps.adcWalkServe(
        spark, sf, edges, f0, beam = 16, hops = 3,
        Some(graft.queries.TrainedIndex.codes(spark, sf)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.queries.VectorOps.serve(spark, sf,
        ServeSpec(beam = 16, maxHops = 3, scoring = ServeSpec.Adc,
          degree = 16, kCells = 8))._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintained == batch && maintained.nonEmpty)
  }

  test("st19c serves from the per-JVM maintained-state memo: the " +
      "second invocation streams nothing (the memo build counter " +
      "does not move) and serves the identical rows") {
    val q = graft.queries.Q.all
      .find(_.name == "st19c_maintained_refined_serving").get
    // ADVICE r14: probe the memo's OWN build counter, not a snapshot
    // of the process-shared java.io.tmpdir a concurrent test JVM
    // could race by creating graft_st19m_* dirs between snapshots
    val first = q.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val after1 = graft.queries.Windows.maintainedBuilds.get()
    val second = q.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(graft.queries.Windows.maintainedBuilds.get() == after1,
      "second st19c invocation re-ran the maintenance stream — the " +
        "memo is dead and every serve re-pays the stream")
    assert(first == second && first.nonEmpty)
  }

  test("converged walk (v22/st19d, VERDICT r15 #4): the data-derived " +
      "stop lands strictly inside the cap — headroom, not the " +
      "budget — and the converged serve equals the fixed-hop serve " +
      "run at the measured stop") {
    import graft.queries.{TrainedIndex, VectorOps}
    val spec = ServeSpec(beam = 16, graph = ServeSpec.Vamana, degree = 16,
      kCells = 8, entries = 2)
    val (served, stop) = VectorOps.serve(spark, sf, spec)
    assert(stop >= 1 && stop < graft.queries.VectorOps.WalkMaxHops,
      s"stop=$stop hit the cap — the walk is budget-starved again " +
        "(raise WalkMaxHops and re-measure, BENCH_SCALE r15)")
    val conv = served.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // capped at exactly the measured stop (the fixed-hop form) the
    // serve is identical: convergence found the SAME fixed point
    val (pinned, pinnedStop) = VectorOps.serve(spark, sf,
      spec.copy(maxHops = stop))
    assert(pinnedStop == stop)
    assert(pinned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == conv && conv.nonEmpty)
    // the fixed point checked by the hop step itself, not by the
    // walk's own stop test: hops PAST the stop do not move the
    // frontier (pairs or scores)
    val (edges, medoids) = TrainedIndex.vamanaGraph(spark, sf,
      degree = 16, kCells = 8)
    val f0 = VectorOps.graphEntries(spark, sf,
      TrainedIndex.centroids(spark, sf, k = 8), medoids, entries = 2)
    val scorer = VectorOps.exactScorer(spark, sf)
    val (frontier, walkStop) =
      VectorOps.walk(edges, f0, scorer, beam = 16, VectorOps.WalkMaxHops)
    assert(walkStop == stop)
    def rowsOf(f: DriverFrontier) =
      f.rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    var f = DriverFrontier.of(frontier)
    val atStop = rowsOf(f)
    (1 to 2).foreach { _ =>
      f = VectorOps.hop(edges, f, scorer, beam = 16)
      assert(rowsOf(f) == atStop,
        "frontier moved after the detected fixed point")
    }
    // a cap below the measured stop binds: the walk reports the cap
    val (_, capped) =
      VectorOps.walk(edges, f0, scorer, beam = 16, maxHops = stop - 1)
    assert(capped == stop - 1)
  }

  test("st19d: the maintained-lake Vamana OPTIMIZE pass equals the " +
      "batch alpha-pruned build edge for edge (one-shot occlusion " +
      "is order-independent), and the converged walk serves off it") {
    // build the maintained lake at the spec geometry and run the
    // optimize-pass kernel over it, then compare to the batch build
    val store = graft.queries.Windows.buildMaintainedStore(
      spark, sf, kCells = 8, "graft_st19d_")
    val root = store.stripSuffix("/serve")
    val cent = graft.queries.TrainedIndex.centroids(spark, sf, k = 8)
    val lake = graft.streaming.StreamingVectorIndex
      .readIndex(spark, s"$root/index")
      .select(col("vec_id"), col("embedding"))
    val (mEdges, _) = graft.queries.VectorOps
      .vamanaGraphFrom(spark, lake, cent, degree = 16)
    val maintained = mEdges.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (bEdges, _) = graft.queries.TrainedIndex
      .vamanaGraph(spark, sf, degree = 16, kCells = 8)
    val batch = bEdges.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintained == batch && maintained.nonEmpty,
      "optimize pass over the maintained lake diverged from the " +
        "batch alpha-pruned build")
  }
}
