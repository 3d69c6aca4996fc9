package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Each stream is derived from the run seed
  * and a tag, so the same seed gives the same inputs in every run and
  * on every machine with the same JDK, and two tags never share a
  * stream. The engine only ever sees what these produce, written to
  * Parquet.
  */
object Gen {
  def rng(seed: Long, tag: String): SplittableRandom =
    new SplittableRandom(mix(seed * 0x9e3779b97f4a7c15L + tagHash(tag)))

  private def tagHash(tag: String): Long =
    scala.util.hashing.MurmurHash3.stringHash(tag).toLong * 0xbf58476d1ce4e5b9L

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Clustered float32 vectors with ids `firstId until firstId + n`:
    * `blobs` Gaussian blobs whose per-dimension spread decays
    * geometrically, so the leading dimensions carry most of the
    * variance, as in learned embeddings. The blob centres depend on the
    * seed only, so every tag draws rows from the same distribution. Row
    * `id` belongs to blob `id % blobs`: blobs are equal in size, and the
    * lowest ids (the engine's k-means seeds) hit distinct blobs, so the
    * cells, and with them the work per query, vary little between seeds.
    */
  def vectors(seed: Long, tag: String, n: Int, dim: Int, blobs: Int,
              firstId: Long = 0L): Array[(Long, Array[Float])] = {
    val scale = Array.tabulate(dim)(d => math.pow(0.95, d))
    val rc = rng(seed, s"centres-$blobs-$dim")
    val centres = Array.fill(blobs)(Array.tabulate(dim)(d => 4.0 * scale(d) * rc.nextGaussian()))
    val r = rng(seed, tag)
    Array.tabulate(n) { i =>
      val id = firstId + i
      val c = centres((id % blobs).toInt)
      (id, Array.tabulate(dim)(d => (c(d) + scale(d) * r.nextGaussian()).toFloat))
    }
  }

  /** `k` distinct values of `0 until n`, in draw order. */
  def sample(seed: Long, tag: String, n: Int, k: Int): Array[Int] = {
    require(k <= n, s"cannot draw $k distinct values from $n")
    val r = rng(seed, tag)
    val seen = mutable.LinkedHashSet.empty[Int]
    while (seen.size < k) seen += r.nextInt(n)
    seen.toArray
  }

  /** One corpus shard: documents with planted near-duplicate groups,
    * one embedding per document, and a link graph over the documents.
    *
    * @param groups planted near-dup groups: ids of a base document and
    *               its variants, each differing from the base in one
    *               word
    */
  final case class Shard(docs: Array[(Long, String)], embeddings: Array[(Long, Array[Float])],
                         edges: Array[(Long, Long)], groups: Seq[Seq[Long]])

  /** A shard of `n` documents with ids `0 until n`. Words follow a
    * skewed (cubic) rank distribution over a 4000-word vocabulary; a
    * fifth of the base documents get 1 to 3 planted variants. A
    * group's embeddings are one random direction plus tiny noise, and
    * all other embeddings are independent directions. Links are skewed:
    * each document links to 1 to 5 targets drawn with the cube of a
    * uniform, so low ids become hubs.
    */
  def shard(seed: Long, index: Int, n: Int, dim: Int): Shard = {
    val r = rng(seed, s"shard-$index")
    val vocab = 4000
    def word(): String = "w" + (vocab * math.pow(r.nextDouble(), 3)).toInt
    def direction(): Array[Double] = Array.fill(dim)(r.nextGaussian())
    val docs = new Array[(Long, String)](n)
    val embs = new Array[(Long, Array[Float])](n)
    val groups = mutable.ArrayBuffer.empty[Seq[Long]]
    var i = 0
    while (i < n) {
      val len = 24 + r.nextInt(25)
      val base = Array.fill(len)(word())
      val dir = direction()
      val size = if (r.nextInt(10) < 2) math.min(2 + r.nextInt(3), n - i) else 1
      val ids = (0 until size).map(j => (i + j).toLong)
      ids.zipWithIndex.foreach { case (id, j) =>
        val words = base.clone()
        if (j > 0) words(r.nextInt(len)) = word() + "x"
        docs(i + j) = id -> words.mkString(" ")
        embs(i + j) = id -> dir.map(x => (x + (if (j > 0) 0.01 * r.nextGaussian() else 0.0)).toFloat)
      }
      if (size > 1) groups += ids
      i += size
    }
    val edges = mutable.ArrayBuffer.empty[(Long, Long)]
    for (u <- 0 until n; _ <- 0 until 1 + r.nextInt(5)) {
      val v = (n * math.pow(r.nextDouble(), 3)).toInt
      if (v != u) edges += (u.toLong -> v.toLong)
    }
    Shard(docs, embs, edges.toArray, groups.toSeq)
  }

  /** Word 3-gram shingle Jaccard of two texts, rounded like the engine's
    * (tokens split on single spaces) — the benchmark's own reference
    * for planted-pair similarity.
    */
  def jaccard(a: String, b: String): Double = {
    def sh(t: String) = t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    val inter = (x intersect y).size
    BigDecimal(inter.toDouble / (x.size + y.size - inter))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Exact triangle count of the undirected simple graph under `edges`
    * (self-loops and multi-edges dropped), the reference for the
    * engine's per-node counts, which sum to three times it.
    */
  def triangles(edges: Array[(Long, Long)]): Long = {
    val adj = mutable.HashMap.empty[Long, mutable.Set[Long]]
    for ((a, b) <- edges if a != b) {
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    var t = 0L
    for ((u, nu) <- adj; v <- nu if v > u; w <- adj(v) if w > v && nu.contains(w)) t += 1
    t
  }
}
