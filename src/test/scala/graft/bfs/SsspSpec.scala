package graft.bfs

import graft.{Gates, SparkSpec}

/** SSSP through its one entry, [[Sssp.ssspFromMinRaw]]: the kernel
  * path at the default gate, the distributed frontier loop with the
  * graph gate at 0. */
class SsspSpec extends SparkSpec {

  /** Driver-side Dijkstra for cross-checking. */
  private def dijkstra(edges: Seq[(Long, Long, Long)], root: Long): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).view
      .mapValues(_.map(e => (e._2, e._3))).toMap
    val dist = scala.collection.mutable.Map(root -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, root))(
      Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (d == dist(v)) {
        adj.getOrElse(v, Seq.empty).foreach { case (u, w) =>
          if (!dist.contains(u) || d + w < dist(u)) {
            dist(u) = d + w; pq.enqueue((d + w, u))
          }
        }
      }
    }
    dist.toMap
  }

  /** `q` at the default gate and with the graph gate at 0. */
  private def bothPaths[A](q: => A): Seq[(String, A)] =
    Seq("kernel" -> q,
      "distributed" -> Gates.localBfsMaxEdges.withLimit(spark, 0L)(q))

  private def rows(raw: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val s = spark; import s.implicits._
    Sssp.ssspFromMinRaw(spark, raw.toDF("src", "dst", "w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("sssp matches Dijkstra on random weighted graphs (5 seeds)") {
    for (seed <- 0L until 5L) {
      val rnd = new scala.util.Random(seed)
      val raw = Seq.fill(60)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
        (rnd.nextInt(9) + 1).toLong))
      // the symmetric min-weight edge set, built on the driver
      val edgeSeq = raw.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, (e._2, e._1, e._3)))
        .groupBy(e => (e._1, e._2)).values.map(_.minBy(_._3)).toSeq
      val expected = dijkstra(edgeSeq, edgeSeq.map(_._1).min)
      bothPaths(rows(raw)).foreach { case (path, got) =>
        assert(got.map(r => r._1 -> r._2).toMap === expected, s"seed=$seed $path")
      }
    }
  }

  test("local relaxation kernel equals distributed frontier loop") {
    for (seed <- 20L until 28L) {
      val rnd = new scala.util.Random(seed)
      val big = 1L << 33
      // loops, the same (s, d) at different weights in both directions,
      // weights above 2^32, and a vertex (999) seen only in a loop
      val raw = Seq.fill(90)((rnd.nextInt(35).toLong, rnd.nextInt(35).toLong,
          (rnd.nextInt(9) + 1).toLong * (if (rnd.nextInt(3) == 0) big else 1L))) ++
        Seq((3L, 7L, 5L), (7L, 3L, 2L), (3L, 7L, 9L), (7L, 3L, big + 1),
          (4L, 4L, 1L), (999L, 999L, 1L))
      val Seq((_, kernel), (_, dist)) = bothPaths(rows(raw))
      assert(kernel === dist, s"seed=$seed")
      assert(kernel.nonEmpty && !kernel.exists(_._1 == 999L), s"seed=$seed")
    }
  }

  test("sssp on a hand graph prefers cheap long path over expensive hop") {
    // 0-1 costs 10 direct, but 0-2-3-1 costs 3
    val raw = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
    bothPaths(rows(raw)).foreach { case (path, got) =>
      assert(got.toSeq.sorted === Seq((0L, 0L, 0L), (1L, 3L, 3L), (2L, 1L, 0L),
        (3L, 2L, 2L)), path)
    }
  }

  test("ssspFromMinRaw equals weightedEdges + ssspFromMin (8 seeds)") {
    for (seed <- 400L until 408L) {
      val rnd = new scala.util.Random(seed)
      // raw list WITH loops and duplicate (src,dst) pairs at different
      // weights — the kernel's min-weight merge must match the
      // distributed path's weightedEdges groupBy.min
      val raw = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
        (rnd.nextInt(9) + 1).toLong))
      val Seq((_, kernel), (_, composed)) = bothPaths(rows(raw))
      assert(kernel.nonEmpty, s"seed=$seed")
      assert(kernel === composed, s"seed=$seed")
    }
  }
}
