package iambench

import java.io.{File, PrintWriter}
import java.util.SplittableRandom

/** Everything one run feeds the program, drawn from the seed, with the
  * answers the program must give. The program sees only the files this
  * writes: the seven base scripts, the seven re-extraction (delta)
  * scripts and the query streams.
  *
  * The delta is what a second extraction emits: replays of about one in
  * twelve base statements plus the statements for what is new since the
  * first — one user in a hundred with all their memberships, and one
  * membership edge in two hundred of the rest. Base plus delta is the
  * whole organisation, which is what every query is checked against.
  */
final class Inputs(val org: Org, seed: Long) {
  import Inputs._

  private val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)

  private val newVertex = Array.tabulate(org.n)(i =>
    org.label(i) == Org.User && rnd.nextDouble() < 0.01)
  private val newEdge = Array.tabulate(org.m)(j =>
    newVertex(org.src(j)) || newVertex(org.dst(j)) ||
      (org.label(org.src(j)) == Org.User && rnd.nextDouble() < 0.005))
  private val replayVertex = Array.tabulate(org.n)(i => !newVertex(i) && rnd.nextDouble() < 0.08)
  private val replayEdge = Array.tabulate(org.m)(j => !newEdge(j) && rnd.nextDouble() < 0.08)
  // One generator per stream, split off in a fixed order, so a stream's
  // content never depends on which stream is built first.
  private val diskRnd = rnd.split()
  private val consoleRnd = rnd.split()
  private val reachRnd = rnd.split()

  val baseVertices: Int = newVertex.count(!_)
  val baseEdges: Int = newEdge.count(!_)
  /** Rows the delta offers to merge. */
  val deltaVertices: Int = org.n - baseVertices + replayVertex.count(identity)
  val deltaEdges: Int = org.m - baseEdges + replayEdge.count(identity)

  def writeBase(dir: File): Long = Groovy.write(org, dir,
    Iterator.range(0, org.n).filter(!newVertex(_)), Iterator.range(0, org.m).filter(!newEdge(_)))

  def writeDelta(dir: File): Long = Groovy.write(org, dir,
    Iterator.range(0, org.n).filter(i => newVertex(i) || replayVertex(i)),
    Iterator.range(0, org.m).filter(j => newEdge(j) || replayEdge(j)))

  private def pickOf(l: Byte): IndexedSeq[Int] = org.ofLabel(l)
  private lazy val users = pickOf(Org.User)
  private lazy val serviceAccounts = pickOf(Org.ServiceAccount)
  /** Groups the console queries target: every group but the hub, whose
    * ~90% of all users would turn one query in fifty into a bulk export. */
  private lazy val consoleGroups = pickOf(Org.Group).filter(_ != org.hub)
  private def pick(xs: IndexedSeq[Int])(implicit r: SplittableRandom): Int = xs(r.nextInt(xs.length))

  /** Point lookups against the at-rest store: nine in ten name a vertex,
    * one in ten a key that is not there. */
  lazy val diskLookups: IndexedSeq[DiskLookup] = IndexedSeq.fill(DiskLookupCount) {
    val rnd = diskRnd
    val i = rnd.nextInt(org.n)
    val l = Org.LabelNames(org.label(i))
    if (rnd.nextDouble() < 0.9) DiskLookup(l, org.key(i), Some(i))
    else DiskLookup(l, s"absent-${rnd.nextInt(1 << 30)}-${org.key(i)}", None)
  }

  /** The analyst's console stream: the README's query shapes, in a seeded
    * order over seeded targets. */
  lazy val console: IndexedSeq[ConsoleQuery] = IndexedSeq.fill(ConsoleQueryCount) {
    implicit val rnd: SplittableRandom = consoleRnd
    rnd.nextInt(5) match {
      case 0 =>
        val u = pick(users)
        ConsoleQuery("out_valueMap",
          s"g.V().hasLabel('user').has('email','${org.key(u)}').out().valueMap()",
          Map.empty, org.out(u).map(vertexLine).toSeq.sorted)
      case 1 =>
        val g = pick(consoleGroups)
        ConsoleQuery("in_values",
          s"g.V().hasLabel('group').has('email','${org.key(g)}').in('in').values('email')",
          Map.empty, org.in(g).map(org.key(_)).toSeq.sorted)
      case 2 =>
        val m = if (rnd.nextBoolean()) pick(users) else pick(serviceAccounts)
        val member = org.out(m).filter(org.label(_) == Org.Group).toIndexedSeq
        val g = if (member.nonEmpty && rnd.nextBoolean()) member(rnd.nextInt(member.length))
                else pick(consoleGroups)
        ConsoleQuery("edge_guard",
          "g.V(u1).outE('in').where(inV().hasId( g1.id() )).hasNext()",
          Map("u1" -> org.id(m), "g1" -> org.id(g)), Seq(org.out(m).contains(g).toString))
      case 3 =>
        val g = pick(consoleGroups)
        ConsoleQuery("group_census",
          s"g.V().hasLabel('group').has('email','${org.key(g)}').in().groupCount().by(label)",
          Map.empty, org.in(g).toSeq.groupBy(i => Org.LabelNames(org.label(i)))
            .map { case (l, xs) => s"$l=${xs.size}" }.toSeq.sorted)
      case _ =>
        val u = pick(users)
        ConsoleQuery("two_hop",
          s"g.V().hasLabel('user').has('email','${org.key(u)}').out().out().id()",
          Map.empty, org.out(u).flatMap(org.out).map(org.id(_).toString).toSeq.sorted)
    }
  }

  /** The flagship question for a seeded batch of principals: every vertex
    * they reach through nested groups, stopping at projects. */
  lazy val reachBatch: ReachBatch = {
    implicit val rnd: SplittableRandom = reachRnd
    val batch = IndexedSeq.fill(ReachBatchSize) {
      if (rnd.nextDouble() < 0.8) pick(users) else pick(serviceAccounts)
    }.distinct
    ReachBatch(
      s"g.V(${batch.map(org.id(_)).mkString(", ")})" +
        ".repeat(out('in')).until(hasLabel('project')).emit().id()",
      org.reachUntil(batch, org.label(_) == Org.Project).map(org.id(_)))
  }

  lazy val closure: Org.Digest = org.closureDigest

  /** Longest shortest path from any vertex: the level bound that makes the
    * SQL recursion below equal the closure on a graph with cycles. */
  def longestPath: Int = org.longestShortestPath

  /** Spark 4.1 rejects UNION (distinct) in a recursive CTE, and UNION ALL
    * never terminates on a cycle, so the recursion dedups each level and
    * stops at the longest shortest path; the outer DISTINCT is the closure. */
  def reachSql(view: String): String =
    s"""WITH RECURSIVE reach(origin, node, hops) AS (
       |  SELECT src, dst, 1 FROM $view
       |  UNION ALL
       |  SELECT DISTINCT r.origin, e.dst, r.hops + 1
       |  FROM reach r JOIN $view e ON r.node = e.src
       |  WHERE r.hops < $longestPath
       |)
       |SELECT count(*) AS pairs,
       |       sum(pmod(xxhash64(origin, node), ${Org.HashModulus})) AS hash
       |FROM (SELECT DISTINCT origin, node FROM reach)""".stripMargin

  /** One line per vertex as `valueMap()` returns it: id|label|key|props. */
  def vertexLine(i: Int): String =
    Inputs.vertexLine(org.id(i), Org.LabelNames(org.label(i)), org.key(i), org.props(i))

  /** The query streams as the program reads them, one query per line. */
  def writeStreams(dir: File): Unit = {
    dir.mkdirs()
    def out(name: String)(lines: Iterator[String]): Unit = {
      val w = new PrintWriter(new File(dir, name), "UTF-8")
      try lines.foreach(w.println) finally w.close()
    }
    out("disk_lookups.tsv")(diskLookups.iterator.map(d => s"${d.label}\t${d.key}"))
    out("console.tsv")(console.iterator.map(q =>
      (Seq(q.text) ++ q.bindings.toSeq.sorted.map { case (k, v) => s"$k=$v" }).mkString("\t")))
    out("reach.tsv")(Iterator(reachBatch.text))
    out("reach.sql")(Iterator(reachSql("iam_edges")))
  }
}

object Inputs {
  /** Longer than any run's stream; a run that gets to the end wraps. */
  val DiskLookupCount = 400
  val ConsoleQueryCount = 400
  val ReachBatchSize = 64

  final case class DiskLookup(label: String, key: String, expect: Option[Int])
  final case class ConsoleQuery(shape: String, text: String, bindings: Map[String, Long],
                                expect: Seq[String])
  final case class ReachBatch(text: String, expect: Set[Long])

  def vertexLine(id: Long, label: String, key: String, props: scala.collection.Map[String, String]): String =
    s"$id|$label|$key|${props.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")}"
}
