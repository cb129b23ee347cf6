package iambench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

/** Writes an organisation as the reference's seven Groovy upsert scripts
  * (main.go:70-96): a guarded `addV` per vertex (main.go:205-211) and a
  * lookup-bind plus guarded `addE` per edge (main.go:310-322) — the
  * statement shapes `GroovyLoader` parses.
  *
  * A script holds the vertices of its kind; memberships sit in
  * groups.groovy, the role→permission map in permissions.groovy and every
  * other edge (bindings) in iam.groovy.
  */
object Groovy {

  val Files: Seq[String] = Seq("users", "groups", "serviceaccounts", "projects",
    "buckets", "iam", "permissions").map(_ + ".groovy")

  private def fileOfVertex(l: Byte): String = l match {
    case Org.User => "users.groovy"
    case Org.Group => "groups.groovy"
    case Org.ServiceAccount => "serviceaccounts.groovy"
    case Org.Project => "projects.groovy"
    case Org.Bucket => "buckets.groovy"
    case Org.Role => "iam.groovy"
    case Org.Permission => "permissions.groovy"
  }

  private def fileOfEdge(org: Org, j: Int): String =
    if (org.label(org.src(j)) == Org.Permission) "permissions.groovy"
    else org.label(org.dst(j)) match {
      case Org.Group => "groups.groovy"
      case _ => "iam.groovy"
    }

  private def lit(v: String): String =
    if (v == "true" || v == "false") v else s"'$v'"

  def vertexStatement(org: Org, i: Int): String = {
    val l = Org.LabelNames(org.label(i))
    val kp = Org.KeyProps(l)
    val k = org.key(i)
    val ps = org.props(i).toSeq.sortBy(_._1)
      .map { case (p, v) => s".property('$p', ${lit(v)})" }.mkString
    s"if (g.V().hasLabel('$l').has('$kp','$k').hasNext() == false) {\n" +
      s" g.addV('$l').property(label, '$l').property('$kp', '$k')$ps.id().next()\n}\n"
  }

  def edgeStatement(org: Org, j: Int): String = {
    def bind(v: String, i: Int) = {
      val l = Org.LabelNames(org.label(i))
      s"$v = g.V().hasLabel('$l').has('${Org.KeyProps(l)}', '${org.key(i)}').next()\n"
    }
    bind("u1", org.src(j)) + bind("g1", org.dst(j)) +
      "if ( g.V(u1).outE('in').where(inV().hasId( g1.id() )).hasNext() == false) {\n" +
      " e1 = g.V(u1).addE('in').to(g1).property('weight', 1).next()\n}\n"
  }

  /** Write the given vertices and edges as the seven scripts under `dir`;
    * returns the bytes written. */
  def write(org: Org, dir: File, vertices: Iterator[Int], edges: Iterator[Int]): Long = {
    dir.mkdirs()
    val outs = Files.map(f => f ->
      new BufferedWriter(new OutputStreamWriter(new FileOutputStream(new File(dir, f)), UTF_8),
        1 << 16)).toMap
    try {
      vertices.foreach(i => outs(fileOfVertex(org.label(i))).write(vertexStatement(org, i)))
      edges.foreach(j => outs(fileOfEdge(org, j)).write(edgeStatement(org, j)))
    } finally outs.values.foreach(_.close())
    Files.map(f => new File(dir, f).length).sum
  }
}
