package graft

import scala.util.Random

import org.apache.spark.sql.types.LongType

import graft.operators.DedupOps

/** Connected components against a plain-Scala union-find on seeded
  * random graphs: chains, stars, cycles, repeated and reversed pairs,
  * negative (hash-style) ids and isolated vertices, with the edges split
  * over 16 partitions so the local seed leaves work for the rounds. */
class ConnectedComponentsSpec extends SparkSpec {

  /** (vertices, pairs) of one random graph; no self-loops. */
  private def randomGraph(seed: Long): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new Random(seed)
    val ids = Iterator.continually(rnd.nextLong() % 1000000000000L)
      .distinct.take(600).toIndexedSeq
    var next = 0
    def take(n: Int): IndexedSeq[Long] = {
      val out = ids.slice(next, next + n); next += n; out
    }
    val pairs = Seq.newBuilder[(Long, Long)]
    for (_ <- 0 until 8) { // chains
      val c = take(2 + rnd.nextInt(40))
      c.zip(c.tail).foreach(pairs += _)
    }
    for (_ <- 0 until 6) { // stars
      val s = take(2 + rnd.nextInt(15))
      s.tail.foreach(l => pairs += (if (rnd.nextBoolean()) (s.head, l) else (l, s.head)))
    }
    for (_ <- 0 until 6) { // cycles
      val c = take(3 + rnd.nextInt(12))
      c.zip(c.tail :+ c.head).foreach(pairs += _)
    }
    val base = pairs.result()
    // a few bridges merge shapes into mixed components
    val bridges = Seq.fill(4)((base(rnd.nextInt(base.size))._1,
      base(rnd.nextInt(base.size))._2)).filter { case (a, b) => a != b }
    // duplicate pairs, in both orientations
    val dups = Seq.fill(30)(base(rnd.nextInt(base.size)))
      .map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
    take(40) // isolated vertices: in the vertex list, in no pair
    (ids.take(next), rnd.shuffle(base ++ bridges ++ dups))
  }

  /** Component minimum of every vertex, by a sequential union-find. */
  private def reference(vertices: Seq[Long],
                        pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(vertices.map(v => v -> v): _*)
    def find(v: Long): Long =
      if (parent(v) == v) v else { val r = find(parent(v)); parent(v) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vertices.map(v => v -> find(v)).toMap
  }

  private def frames(vertices: Seq[Long], pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    (vertices.toDF("doc_id"), pairs.toDF("doc_a", "doc_b"))
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == rows.map(_._1).distinct.length, "a vertex got two labels")
    rows.toMap
  }

  test("connectedComponents equals a sequential union-find on random graphs") {
    for (seed <- Seq(7L, 8L)) {
      val (vs, ps) = randomGraph(seed)
      val (v, p) = frames(vs, ps)
      val got = withSplitEdges(labels(DedupOps.connectedComponents(v, p)))
      assert(got == reference(vs, ps), s"seed $seed")
    }
  }

  test("localMinLabels: edge order does not change its output, and one partition closes the graph") {
    val (vs, ps) = randomGraph(9L)
    val sym = ps.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val once = DedupOps.localMinLabels(sym.iterator).toSeq.sorted
    for (s <- 1 to 3) {
      val permuted = new Random(s).shuffle(sym)
      assert(DedupOps.localMinLabels(permuted.iterator).toSeq.sorted == once)
    }
    // one partition holding every edge: the seed alone is exact
    val ref = reference(vs, ps)
    val touched = sym.map(_._1).toSet
    assert(once.map(_._1).toSet == touched)
    once.foreach { case (v, l) => assert(l == ref(v), s"vertex $v") }
  }

  test("connectedComponents keeps its output schema") {
    val (vs, ps) = randomGraph(10L)
    val (v, p) = frames(vs, ps)
    val out = DedupOps.connectedComponents(v, p)
    assert(out.schema.map(f => f.name -> f.dataType) ==
      Seq("doc_id" -> LongType, "cluster_id" -> LongType))
  }

  test("connectedComponents: reliable-checkpoint path returns the same rows on split edges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_prop").toString
    val (vs, ps) = randomGraph(11L)
    val (v, p) = frames(vs, ps)
    val prior = spark.sparkContext.getCheckpointDir
    val (local, reliable) = withSplitEdges {
      (labels(DedupOps.connectedComponents(v, p)),
        withCheckpointDir(dir)(labels(DedupOps.connectedComponents(v, p))))
    }
    assert(spark.sparkContext.getCheckpointDir == prior)
    assert(reliable == local)
    assert(local == reference(vs, ps))
  }
}
