package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cluster

/** Integer-exact k-means: recovery of a separable clustering, bitwise
  * equality with an independent pure-Scala reference implementation on
  * random data (the strong oracle), determinism across runs, empty
  * cluster handling, and the diverse-sample chain-end.
  */
class ClusterSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Independent sequential reference: same spec (floor-quantize, seeds
    * = k smallest ids, lexicographic argmin, floor-mean update, empty
    * cluster keeps its centroid), written against plain collections so
    * a shared bug with the Spark operator is implausible.
    */
  private def localKmeans(vecs: Seq[(Long, Array[Float])], k: Int,
      iters: Int, scale: Long): Map[Long, (Int, Long)] = {
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * scale).toLong)
    }
    var cents: Seq[(Int, Array[Long])] =
      q.sortBy(_._1).take(k).zipWithIndex.map { case ((_, v), i) => i -> v.clone() }
    var assign: Map[Long, (Int, Long)] = Map.empty
    for (t <- 1 to iters) {
      assign = q.map { case (id, v) =>
        val best = cents.map { case (c, cv) =>
          var s = 0L; var i = 0
          while (i < v.length) { val d = v(i) - cv(i); s += d * d; i += 1 }
          (s, c)
        }.min
        id -> (best._2, best._1)
      }.toMap
      if (t < iters) {
        val byC = q.groupBy { case (id, _) => assign(id)._1 }
        cents = cents.map { case (c, prev) =>
          byC.get(c) match {
            case Some(members) =>
              c -> Array.tabulate(prev.length) { d =>
                val sum = members.map(_._2(d)).sum
                math.floor(sum.toDouble / members.size).toLong
              }
            case None => c -> prev
          }
        }
      }
    }
    assign
  }

  private def sparkAssign(vecs: Seq[(Long, Array[Float])], k: Int,
      iters: Int): Map[Long, (Int, Long)] =
    Cluster.kmeansAssignments(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", k, iters)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap

  private def blobs(n: Int, dim: Int): Seq[(Long, Array[Float])] = {
    // three well-separated centers; id % 3 picks the blob, so the three
    // seed ids (0, 1, 2) start one per blob
    val centers = Seq(
      Array.fill(dim)(10.0f),
      Array.fill(dim)(-10.0f),
      Array.tabulate(dim)(d => if (d % 2 == 0) 10.0f else -10.0f))
    (0 until n).map { i =>
      val c = centers(i % 3)
      i.toLong -> c.zipWithIndex.map { case (x, d) =>
        x + ((i * 7 + d) % 13 - 6) * 0.01f // small deterministic jitter
      }
    }
  }

  test("recovers a separable 3-blob clustering exactly") {
    val data = blobs(60, 8)
    val out = sparkAssign(data, k = 3, iters = 4)
    assert(out.size === 60)
    // every blob lands in one cluster, distinct from the other blobs'
    val byBlob = (0 until 3).map(b =>
      out.filter { case (id, _) => id % 3 == b }.values.map(_._1).toSet)
    byBlob.foreach(s => assert(s.size === 1, s"blob split across clusters: $byBlob"))
    assert(byBlob.flatten.toSet.size === 3)
  }

  test("bitwise equality with the sequential reference on random data") {
    val rnd = new scala.util.Random(1234)
    val data = (0 until 120).map(i =>
      i.toLong -> Array.fill(8)(rnd.nextFloat() * 2 - 1))
    val expected = localKmeans(data, k = 5, iters = 4, Cluster.DefaultScale)
    val got = sparkAssign(data, k = 5, iters = 4)
    assert(got === expected)
  }

  test("deterministic: two runs produce identical assignments") {
    val rnd = new scala.util.Random(77)
    val data = (0 until 80).map(i =>
      i.toLong -> Array.fill(8)(rnd.nextFloat()))
    assert(sparkAssign(data, 4, 3) === sparkAssign(data, 4, 3))
  }

  test("empty clusters keep their centroid (k > distinct points)") {
    // four copies of each of two distinct points, k=4: two seed
    // centroids never win a vector — the run must stay total and match
    // the reference's carry rule
    val a = Array.fill(4)(1.0f)
    val b = Array.fill(4)(9.0f)
    val data = (0 until 8).map(i => i.toLong -> (if (i < 4) a.clone() else b.clone()))
    val expected = localKmeans(data, k = 4, iters = 3, Cluster.DefaultScale)
    val got = sparkAssign(data, k = 4, iters = 3)
    assert(got === expected)
    assert(got.values.map(_._1).toSet.size === 2)
  }

  test("diverseSample: m nearest per cluster, rank order by (dist, id)") {
    val data = blobs(60, 8)
    val assignments = Cluster.kmeansAssignments(
      data.toDF("vec_id", "embedding"), "vec_id", "embedding", k = 3, iters = 4)
    val sample = Cluster.diverseSample(assignments, m = 2).collect()
    assert(sample.length === 6) // 2 per cluster, 3 clusters
    val byCluster = sample.groupBy(_.getInt(1))
    byCluster.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === Seq(1, 2))
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("dist"), r.getLong(0)))
      assert(sorted.toSeq === sorted.toSeq.sorted) // rank follows (dist, id)
    }
    // rank-1 rows are the true per-cluster minima
    val all = assignments.collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(0)))
    byCluster.foreach { case (c, rows) =>
      val top = rows.minBy(_.getAs[Int]("rank"))
      val expectedMin = all.filter(_._1 == c).map(t => (t._2, t._3)).min
      assert((top.getAs[Long]("dist"), top.getLong(0)) === expectedMin)
    }
  }

  test("assignToJoin == assignTo: same kernel, same tie-break, broadcast plan") {
    val rnd = new scala.util.Random(77)
    val data = (0 until 200).map(i =>
      i.toLong -> Array.fill(8)(rnd.nextFloat() * 2 - 1))
    val df = data.toDF("vec_id", "embedding")
    val cents = Cluster.kmeansCentroids(df, "vec_id", "embedding", 16, 3)
    val litAsg = Cluster.assignTo(df, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val joined = Cluster.assignToJoin(df, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(joined === litAsg)
    // ties break identically: duplicate centroids force equal distances
    val dupCents = cents.limit(1).union(cents.limit(1)
      .withColumn("cluster", col("cluster") + 100)).union(cents)
    val litT = Cluster.assignTo(df, "vec_id", "embedding", dupCents)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val joinT = Cluster.assignToJoin(df, "vec_id", "embedding", dupCents)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(joinT === litT)
    val plan = Cluster.assignToJoin(df, "vec_id", "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"centroid side must broadcast:\n${plan.take(2000)}")
  }

  test("quantize + argmin kernels are bit-identical to the HOF/struct forms") {
    import graft.functions.VectorFunctions
    val rnd = new scala.util.Random(91)
    val data = (0 until 300).map(i =>
      i.toLong -> Array.fill(8)(rnd.nextFloat() * 4 - 2))
    val df = data.toDF("vec_id", "embedding")
    // quantize: kernel vs the transform() HOF it replaced, negatives
    // included (floor of a negative product is the trap)
    val both = df.select(
        VectorFunctions.quantizeFloorF(col("embedding"), 1024L).as("k"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1024L).cast("long")).as("h"))
      .collect()
    both.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
    // argmin: kernel vs an explicit least()-of-structs over the same
    // centroids (the pre-kernel formulation), including a forced tie
    val cents: Seq[(Int, Array[Long])] = Seq(
      0 -> Array.fill(8)(0L), 1 -> Array.fill(8)(512L),
      2 -> Array.fill(8)(0L)) // duplicate of 0: dist ties break to 0
    val q = df.select(col("vec_id").as("id"),
      VectorFunctions.quantizeFloorF(col("embedding"), 1024L).as("qv"))
    val m = new graft.functions.CentroidMatrix(
      cents.flatMap(_._2).toArray, cents.map(_._1).toArray, 8)
    val kernel = q.select(col("id"),
        VectorFunctions.nearestCentroidL(col("qv"), m).as("m"))
      .select(col("id"), col("m.dist"), col("m.cluster")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val structs = q.select(col("id"),
        least(cents.map { case (c, v) =>
          struct(VectorFunctions.sqDistL(col("qv"),
            array(v.map(lit(_)): _*)).as("dist"), lit(c).as("cluster"))
        }: _*).as("m"))
      .select(col("id"), col("m.dist"), col("m.cluster")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(kernel === structs)
    assert(kernel.exists(_._3 == 0) && !kernel.exists(_._3 == 2),
      "ties must break to the lowest cluster id")
  }

  test("autoK: ceil(n / targetCellSize), floored at 1") {
    assert(Cluster.autoK(0) === 1)
    assert(Cluster.autoK(1) === 1)
    assert(Cluster.autoK(250) === 1)
    assert(Cluster.autoK(251) === 2)
    assert(Cluster.autoK(2000) === 8)
    assert(Cluster.autoK(20000) === 80)
    assert(Cluster.autoK(1000, targetCellSize = 100) === 10)
    intercept[IllegalArgumentException](Cluster.autoK(10, 0))
  }

  test("prototypePrune: hardest quarter per cluster, quota exact, no cluster emptied") {
    val data = blobs(60, 8)
    val assignments = Cluster.kmeansAssignments(
      data.toDF("vec_id", "embedding"), "vec_id", "embedding", k = 3, iters = 4)
    val all = assignments.collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(0))) // (cluster, dist, id)
    val pruned = Cluster.prototypePrune(assignments, keepFraction = 0.25)
    val rows = pruned.collect()
    val byCluster = rows.groupBy(_.getInt(1))
    // every non-empty source cluster survives with exactly ceil(f * n) rows,
    // and they are the (dist desc, id asc)-first members
    all.groupBy(_._1).foreach { case (c, members) =>
      val quota = math.ceil(0.25 * members.length).toInt
      val kept = byCluster.getOrElse(c, Array.empty)
      assert(kept.length === quota, s"cluster $c quota")
      val expect = members.map(t => (-t._2, t._3)).sorted.take(quota)
        .map(_._2).toSet
      assert(kept.map(_.getLong(0)).toSet === expect,
        s"cluster $c kept the wrong members")
      assert(kept.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to quota),
        s"cluster $c ranks")
      assert(kept.forall(_.getAs[Long]("csize") === members.length.toLong))
    }
    // keepFraction = 1.0 keeps the whole corpus
    assert(Cluster.prototypePrune(assignments, 1.0).count() === all.length.toLong)
    // hardest = false inverts the order: rank-1 rows are the per-cluster
    // (dist, id) minima — the diverseSample end of the spectrum
    val easy = Cluster.prototypePrune(assignments, 0.25, hardest = false)
      .filter(col("rank") === 1).collect()
      .map(r => (r.getInt(1), (r.getLong(2), r.getLong(0)))).toMap
    all.groupBy(_._1).foreach { case (c, members) =>
      assert(easy(c) === members.map(t => (t._2, t._3)).min)
    }
  }

  test("prototypePrune plans one exchange: rank and size share the cluster partitioning") {
    val assignments = Cluster.kmeansAssignments(
      Tables.embeddings(spark, "/root/testdata/sf0.001"),
      "vec_id", "embedding", k = 3, iters = 1)
    val plan = Cluster.prototypePrune(assignments, 0.25)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges === 1,
      s"expected exactly one exchange (shared by both windows):\n${plan.take(3000)}")
  }

  test("train/apply split: assignTo(centroids) == kmeansAssignments; parquet roundtrip") {
    val rnd = new scala.util.Random(55)
    val data = (0 until 100).map(i =>
      i.toLong -> Array.fill(8)(rnd.nextFloat() * 2 - 1))
    val df = data.toDF("vec_id", "embedding")
    val trained = Cluster.kmeansAssignments(df, "vec_id", "embedding", 4, 3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val cents = Cluster.kmeansCentroids(df, "vec_id", "embedding", 4, 3)
    // applying the trained model to the training set reproduces training
    val applied = Cluster.assignTo(df, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(applied === trained)
    // the model survives persistence (the nightly-train / per-batch-apply shape)
    val dir = tempDir("cents")
    cents.write.mode("overwrite").parquet(dir)
    val reloaded = Cluster.assignTo(df, "vec_id", "embedding",
        spark.read.parquet(dir))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(reloaded === trained)
    // identical new vectors land exactly where their originals did
    val copies = data.take(10).map { case (id, v) => (id + 1000L, v) }
      .toDF("vec_id", "embedding")
    val assignedCopies = Cluster.assignTo(copies, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assignedCopies.foreach { case (id, cd) => assert(cd === trained(id - 1000L)) }
  }

  test("meanPool: hand-checked floor-means; array form matches long form") {
    // groups: ids {0,1} -> g0, {2} -> g1
    val data = Seq(
      (0L, Array(1.0f, -1.0f)),
      (1L, Array(2.0f, 0.5f)),
      (2L, Array(3.0f, 3.0f))
    ).toDF("vec_id", "embedding")
    val grp = expr("vec_id div 2")
    val pooled = Cluster.meanPool(data, grp, "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // scale 1024: q(1.0)=1024, q(2.0)=2048 -> mean 1536; q(-1.0)=-1024,
    // q(0.5)=512 -> floor(-512/2)=-256
    assert(pooled((0L, 0L)) === 1536L)
    assert(pooled((0L, 1L)) === -256L)
    assert(pooled((1L, 0L)) === 3072L)
    val vecs = Cluster.meanPoolVectors(data, grp, "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(vecs(0L) === Seq(1536L, -256L))
    assert(vecs(1L) === Seq(3072L, 3072L))
  }

  /** Dispersed random corpus + identical copies of ids 0,4,8 at 1000+.
    * Random 8-dim vectors essentially never reach cosine 0.999, so the
    * planted copies are the ONLY pairs at that threshold (blobs would
    * not work here: within-blob cosine is ~1-1e-7, above any usable
    * threshold).
    */
  private def plantedCopies(): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(42)
    val base = (0 until 60).map(i =>
      i.toLong -> Array.fill(8)(rnd.nextFloat() * 2 - 1))
    base ++ Seq(0L, 4L, 8L).map(id =>
      (id + 1000L) -> base(id.toInt)._2.clone())
  }

  test("semanticNearDupPairs: planted copies are found; kept drops them first-wins") {
    val data = plantedCopies()
    val df = data.toDF("vec_id", "embedding")
    val pairs = Cluster.semanticNearDupPairs(df, "vec_id", "embedding",
        k = 3, iters = 3, threshold = 0.999)
      .collect()
    // every planted copy pairs with its original (cosine 1.0, same cell)
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(0L, 4L, 8L).foreach(id =>
      assert(pairSet.contains((id, id + 1000L)), s"missing pair for $id"))
    // identical vectors tie on centroid dist (dist_a == dist_b)
    pairs.filter(r => r.getLong(1) == r.getLong(0) + 1000L)
      .foreach(r => assert(r.getLong(3) === r.getLong(4)))
    val kept = Cluster.semanticDedupKept(df, "vec_id", "embedding",
        k = 3, iters = 3, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    // first-wins: originals stay, copies go
    Seq(0L, 4L, 8L).foreach { id =>
      assert(kept.contains(id), s"original $id dropped")
      assert(!kept.contains(id + 1000L), s"copy of $id survived")
    }
    // nothing else was dropped (random vectors never reach 0.999)
    assert(kept.size === 60)
  }

  test("semanticDedupKept keepFarthest: centroid-nearer member of a pair is dropped") {
    val df = plantedCopies().toDF("vec_id", "embedding")
    val kept = Cluster.semanticDedupKept(df, "vec_id", "embedding",
        k = 3, iters = 3, threshold = 0.999, keepFarthest = true)
      .select("vec_id").as[Long].collect().toSet
    // identical vectors tie on dist -> tie keeps the LARGER id: the
    // copy survives, the original goes
    Seq(0L, 4L, 8L).foreach { id =>
      assert(!kept.contains(id), s"original $id survived a dist tie")
      assert(kept.contains(id + 1000L), s"copy of $id dropped")
    }
    assert(kept.size === 60)
  }

  test("semantic pairs == brute-force pairs scoped to the same cell") {
    val rnd = new scala.util.Random(99)
    val data = (0 until 80).map(i =>
      i.toLong -> Array.fill(8)(rnd.nextFloat() * 2 - 1))
    val df = data.toDF("vec_id", "embedding")
    val threshold = 0.5 // random low-dim vectors: some natural pairs
    val got = Cluster.semanticNearDupPairs(df, "vec_id", "embedding",
        k = 4, iters = 3, threshold = threshold)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    // reference: all brute-force pairs, filtered to co-clustered ids
    val cell = Cluster.kmeansAssignments(df, "vec_id", "embedding", 4, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val brute = graft.operators.Dedup.embeddingNearDups(df, threshold)
      .collect()
      .filter(r => cell(r.getLong(0)) == cell(r.getLong(1)))
      .map(r => (r.getLong(0), r.getLong(1),
        math.floor(r.getDouble(2) * 10000) / 10000)).toSet
    assert(got === brute)
    assert(got.nonEmpty, "threshold produced no pairs; test is vacuous")
  }

  test("assignment is map-only over the scan and stays inside WholeStageCodegen") {
    // parquet-backed (a local relation would be collapsed eagerly by
    // ConvertToLocalRelation and show no plan at all)
    val df = Cluster.kmeansAssignments(
      Tables.embeddings(spark, "/root/testdata/sf0.001"),
      "vec_id", "embedding", k = 3, iters = 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"assignment must not shuffle the corpus:\n${plan.take(2000)}")
    val line = plan.linesIterator
      .find(_.contains("nearest_centroid_long")).getOrElse("")
    assert(line.trim.matches("""^(\+- )?\*\(\d+\) .*"""),
      s"nearest_centroid_long fell out of codegen: $line")
  }
}
