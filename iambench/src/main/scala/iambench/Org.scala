package iambench

import java.nio.charset.StandardCharsets.UTF_8

/** A synthetic GSuite/GCP organisation, held in memory as plain arrays:
  * the benchmark's ground truth. Vertex `i` has `label(i)`,
  * `key(i)` (its promoted key: email, projectId or name) and `props(i)`;
  * edges are the `in` containment edges `src(j) —in→ dst(j)`, each stored
  * once, with CSR adjacency in both directions.
  *
  * Containment, as in the reference's graph (README.md:20-33):
  *   user | group | serviceAccount —in→ group      (membership, nested)
  *   user | group | serviceAccount —in→ role       (an IAM binding)
  *   role —in→ project | bucket                   (where the binding applies)
  *   permission —in→ role                          (the role→permission map)
  * A role vertex is one binding of a predefined role on one resource
  * (`projects/p12/roles/viewer`), so reaching it means holding that role
  * there. A bucket binding grants the bucket alone, so a bucket has no
  * edge to a project.
  */
final class Org(
    val label: Array[Byte],
    val key: Array[String],
    val props: Array[Map[String, String]],
    val src: Array[Int],
    val dst: Array[Int],
    val hub: Int) {

  import Org._

  val n: Int = label.length
  val m: Int = src.length

  /** Engine vertex ids, computed as the program's loader stamps them. */
  val id: Array[Long] = Array.tabulate(n)(i => vertexId(LabelNames(label(i)), key(i)))

  private def csr(from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    from.foreach(f => off(f + 1) += 1)
    for (i <- 0 until n) off(i + 1) += off(i)
    val fill = off.clone()
    val adj = new Array[Int](m)
    for (j <- 0 until m) { adj(fill(from(j))) = to(j); fill(from(j)) += 1 }
    (off, adj)
  }
  val (outOff, outAdj) = csr(src, dst)
  val (inOff, inAdj) = csr(dst, src)

  def out(i: Int): Iterator[Int] = Iterator.range(outOff(i), outOff(i + 1)).map(outAdj)
  def in(i: Int): Iterator[Int] = Iterator.range(inOff(i), inOff(i + 1)).map(inAdj)

  def ofLabel(l: Byte): IndexedSeq[Int] = (0 until n).filter(label(_) == l)

  /** Vertices reached from `starts` in ≥ 1 hop, never expanding past a
    * vertex for which `stop` holds (it is still reached): the set that
    * `repeat(out('in')).until(stop).emit()` returns. */
  def reachUntil(starts: Iterable[Int], stop: Int => Boolean): Set[Int] = {
    val seen = new java.util.BitSet(n)
    val queue = new scala.collection.mutable.ArrayDeque[Int]()
    starts.foreach(s => out(s).foreach { v =>
      if (!seen.get(v)) { seen.set(v); queue.append(v) } })
    while (queue.nonEmpty) {
      val u = queue.removeHead()
      if (!stop(u)) out(u).foreach { v =>
        if (!seen.get(v)) { seen.set(v); queue.append(v) } }
    }
    seen.stream().toArray.toSet
  }

  /** Count and order-free hash of the transitive closure — every
    * (origin, node) pair joined by a path of ≥ 1 edge, so (a, a) is in it
    * exactly when a lies on a cycle — and its longest shortest path. One
    * BFS per vertex over the CSR arrays, with a stamp array instead of a
    * cleared visited set. */
  lazy val closure: (Digest, Int) = {
    val stamp = Array.fill(n)(-1)
    val dist = new Array[Int](n)
    val queue = new Array[Int](n)
    var count = 0L
    var hash = 0L
    var longest = 0
    for (o <- 0 until n) {
      var head = 0; var tail = 0
      var j = outOff(o)
      while (j < outOff(o + 1)) {
        val v = outAdj(j)
        if (stamp(v) != o) { stamp(v) = o; dist(v) = 1; queue(tail) = v; tail += 1 }
        j += 1
      }
      while (head < tail) {
        val u = queue(head); head += 1
        count += 1
        hash += pairHash(id(o), id(u))
        longest = math.max(longest, dist(u))
        var k = outOff(u)
        while (k < outOff(u + 1)) {
          val v = outAdj(k)
          if (stamp(v) != o) { stamp(v) = o; dist(v) = dist(u) + 1; queue(tail) = v; tail += 1 }
          k += 1
        }
      }
    }
    (Digest(count, hash), longest)
  }
  def closureDigest: Digest = closure._1
  def longestShortestPath: Int = closure._2
}

object Org {
  val User: Byte = 0
  val Group: Byte = 1
  val ServiceAccount: Byte = 2
  val Project: Byte = 3
  val Bucket: Byte = 4
  val Role: Byte = 5
  val Permission: Byte = 6
  val LabelNames: Array[String] =
    Array("user", "group", "serviceAccount", "project", "bucket", "role", "permission")

  /** Promoted-key property per label: the program's registry for the
    * reference's labels, plus `bucket`, which it does not register. */
  val KeyProps: Map[String, String] =
    graft.sources.GroovyLoader.ReferenceKeyProps + ("bucket" -> "name")

  /** The loader's id for a label without a numeric code: the first 60
    * bits of md5("label:key") (`Hashing.md5Long`). */
  def vertexId(label: String, key: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$label:$key".getBytes(UTF_8))
    md.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xff)) >>> 4
  }

  /** Per-pair hash the Spark side reproduces as
    * `pmod(xxhash64(origin, node), HashModulus)`; summed, it is an
    * order-free digest of a pair set that cannot overflow. */
  val HashModulus = 1000000007L
  def pairHash(a: Long, b: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    Math.floorMod(XXH64.hashLong(b, XXH64.hashLong(a, 42L)), HashModulus)
  }

  final case class Digest(count: Long, hash: Long)
}
