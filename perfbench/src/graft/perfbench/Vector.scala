package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.{TrainedIndex, VectorOps}
import graft.sources.{IndexArtifacts, Tables}
import graft.streaming.{StreamingKnnGraph, StreamingVectorIndex}

/** The vector lifecycle's traffic. Inputs are seeded clustered
  * vectors, written as the `embeddings` table the vector tier reads
  * (vec_id, embedding: array<float>, label).
  *
  * Dimensions and why each has its size:
  *  - N 400 vectors of dim 64 (the test data's width): ~20 vectors a
  *    cell, and small enough that train + ingest + publish fit a run
  *    (centroid training alone is ~25 s cold at N 1000, kCells 32).
  *  - 16 clusters: real embeddings cluster; the walk's recall depends
  *    on it. The spread is fixed, not tuned for recall.
  *  - kCells 20 ~ sqrt(N): the production geometry (per-cell occupancy,
  *    and so per-vector maintenance cost, stays flat as N grows).
  *  - 2 micro-batches of 200, compaction every 2nd batch (here: at
  *    publish): the 2nd batch folds beside the 1st's uncompacted root.
  *  - serve calls: at least 4 and until the run's seconds are used,
  *    each a 20-query batch (the tier's fixed query set, vec_id < 20).
  */
final case class VectorSpec(n: Int = 400, dim: Int = 64, clusters: Int = 16,
    kCells: Int = 20, batches: Int = 2, compactEvery: Int = 2,
    degree: Int = 16, beam: Int = 16, hops: Int = 3, minServes: Int = 4)

object VectorWorkload extends Workload {

  val Spec = VectorSpec()

  def writeEmbeddings(c: Ctx, spec: VectorSpec, seed: Long, sfDir: String): Unit = {
    val rng = new java.util.SplittableRandom(seed)
    val centers = Array.fill(spec.clusters, spec.dim)(rng.nextGaussian() / math.sqrt(spec.dim))
    val rows = (0 until spec.n).map { i =>
      val l = rng.nextInt(spec.clusters)
      val v = Array.tabulate(spec.dim)(j =>
        (centers(l)(j) + rng.nextGaussian() * 0.06).toFloat)
      Row(i.toLong, v.toSeq, l)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    c.spark.createDataFrame(c.spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$sfDir/embeddings.parquet")
    Tables.invalidateStamp(Some(sfDir))
  }

  /** Writes the embeddings, then trains the IVF centroids and the PQ
    * tier through TrainedIndex (a fresh directory each time, so nothing
    * is cached). */
  def setup(c: Ctx, dir: String): Seq[String] = {
    val s = c.spark
    val d = s"$dir/sf"
    writeEmbeddings(c, Spec, c.seed, d)
    c.trace.span("operators.kmeans")(TrainedIndex.centroids(s, d, Spec.kCells))
    val codes = c.trace.span("queries.pq_train") {
      TrainedIndex.codebook(s, d)
      TrainedIndex.codes(s, d).count()
    }
    if (codes != Spec.n) Seq(s"PQ codes: got $codes, want ${Spec.n}") else Nil
  }

  def run(c: Ctx, dir: String): Unit = {
    val s = c.spark
    val d = s"$dir/sf"
    val state = s"$dir/state"
    val cent = TrainedIndex.centroids(s, d, Spec.kCells)
    val e = Tables.embeddings(s, d)
    (0 until Spec.batches).foreach { b =>
      c.rec.op("batch") {
        c.trace.span("streaming.apply") {
          StreamingKnnGraph.applyBatch(
            e.filter(pmod(col("vec_id"), lit(Spec.batches)) === b)
              .select(col("vec_id"), col("embedding")),
            cent, "vec_id", "embedding", k = Spec.degree, b.toLong, state)
        }
        if ((b + 1) % Spec.compactEvery == 0 && b + 1 < Spec.batches)
          c.trace.span("streaming.compact")(StreamingKnnGraph.compact(state))
      }(_ => Nil)
    }
    val store = s"$state/serve"
    c.rec.op("publish") {
      c.trace.span("streaming.compact")(StreamingKnnGraph.compact(state))
      c.trace.span("queries.graph_build") {
        val maintained = StreamingKnnGraph.readGraph(s, state).get
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val lake = StreamingVectorIndex.readIndex(s, s"$state/index")
          .select(col("vec_id"), col("embedding"))
        val (hub, medoids) = VectorOps.hubAndMedoidsFrom(lake, cent)
        IndexArtifacts.saveFrames(s, store, Seq(
          "edges" -> maintained.union(hub).distinct().sort(col("src")),
          "f0" -> VectorOps.graphEntries(s, d, cent, medoids)), keep = 2)
      }
    } { _ =>
      // every vector keeps min(degree, cell size - 1) neighbours
      val sizes = StreamingVectorIndex.readIndex(s, s"$state/index")
        .groupBy(col("cell")).count().collect().map(_.getLong(1))
      val want = sizes.map(n => n * math.min(Spec.degree.toLong, n - 1)).sum
      val got = StreamingKnnGraph.readGraph(s, state).get.count()
      (if (got != want) Seq(s"edges: got $got, want $want") else Nil) ++
        (if (sizes.sum != Spec.n) Seq(s"lake vectors: got ${sizes.sum}, want ${Spec.n}") else Nil)
    }
    val edges = IndexArtifacts.loadFrame(s, store, "edges")
    val f0 = IndexArtifacts.loadFrame(s, store, "f0")
    val codes = TrainedIndex.codes(s, d)
    // the walk starts from each query's entry points (the medoids of its
    // 2 nearest cells, itself excluded); a query without one, e.g. the
    // sole member of its cell beside an empty cell, is served nothing
    val entered = f0.select(col("qid")).distinct().collect().map(_.getLong(0)).toSet
    var first: Option[Set[(Long, Long)]] = None
    val t0 = System.nanoTime()
    var served = 0
    while (served < Spec.minServes || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      c.rec.op("serve") {
        c.trace.span("queries.serve") {
          VectorOps.adcWalkServe(s, d, edges, f0, Spec.beam, Spec.hops, Some(codes))
            .select(col("qid"), col("cid")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        }
      } { got =>
        // every query with an entry point gets 1 to 3 results (fewer
        // than 3 when its entry cells are tiny: the walk re-ranks only
        // its final beam; recall_at_3 counts that), every other none;
        // and at least 3 in 4 queries have an entry point
        val want = first.getOrElse { first = Some(got); got }
        val perQuery = (0L until 20L).map(q => q -> got.count(_._1 == q)).toMap
        (if (got.exists { case (q, _) => q < 0 || q >= 20 })
          Seq("served a query outside the 20-query set") else Nil) ++
          (if (perQuery.exists { case (q, n) => if (entered(q)) n < 1 || n > 3 else n != 0 })
            Seq(s"results per query (entry points for $entered): $perQuery") else Nil) ++
          (if (entered.size < 15) Seq(s"only ${entered.size} of 20 queries have an entry point")
          else Nil) ++
          (if (got.exists { case (q, v) => q == v || v < 0 || v >= Spec.n })
            Seq("served a query itself or an unknown vector") else Nil) ++
          (if (got != want) Seq("serve result differs from the first serve") else Nil)
      }
      served += 1
    }
    import s.implicits._
    val ann = first.getOrElse(Set.empty).toSeq.toDF("qid", "cid")
    val r = VectorOps.recallOf(VectorOps.bruteTruth(s, d), ann)
      .agg(sum(col("n_hit")), sum(col("n_truth"))).head()
    c.rec.values("recall_hits") = r.getLong(0).toDouble
    c.rec.values("recall_truth") = r.getLong(1).toDouble
    c.rec.values("serve_queries") = 20.0
    c.rec.values("serve_rows") = first.map(_.size).getOrElse(0).toDouble
    c.rec.values("serve_entered") = entered.size.toDouble
    c.rec.values("job_serves") = Spec.minServes.toDouble
  }
}
