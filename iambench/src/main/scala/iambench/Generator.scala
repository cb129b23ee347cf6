package iambench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded generator of a synthetic organisation. The sizes and the group
  * nesting depth (3) are fixed; the seed draws the structure — who belongs
  * to which group, how many groups sit at each nesting level, the hub
  * group's share of users, the external share, where the cycles and empty
  * groups fall — so every seed gives an organisation of the same size but
  * a different shape.
  */
object Generator {

  final case class Sizes(
      users: Int = 6000,
      groups: Int = 600,
      serviceAccounts: Int = 420,
      projects: Int = 150,
      buckets: Int = 300,
      permissions: Int = 120,
      cycles: Int = 6,
      selfLoops: Int = 4) {
    def principals: Int = users + groups + serviceAccounts
  }

  /** A small organisation of the same shape, for warm-up and tests. */
  val Small: Sizes = Sizes(users = 400, groups = 60, serviceAccounts = 30,
    projects = 20, buckets = 30, permissions = 30, cycles = 2, selfLoops = 2)

  /** Predefined roles: name → the permissions it grants, drawn once per
    * organisation from the permission catalogue. */
  val RoleNames: IndexedSeq[String] = IndexedSeq(
    "roles/viewer", "roles/editor", "roles/owner", "roles/browser",
    "roles/iam.securityReviewer", "roles/compute.admin", "roles/compute.viewer",
    "roles/bigquery.dataViewer", "roles/bigquery.jobUser", "roles/logging.viewer",
    "roles/storage.objectViewer", "roles/storage.objectAdmin",
    "roles/storage.legacyBucketReader", "roles/storage.admin")
  private val BucketRoles = RoleNames.filter(_.startsWith("roles/storage"))
  private val ProjectRoles = RoleNames.filterNot(_.startsWith("roles/storage"))

  /** Group nesting levels. Deeper nesting multiplies the traversals' cost
    * per level (see README.md), so it is not drawn from the seed. */
  val Depth = 3
  private val RolesPerProject = 3
  private val RolesPerBucket = 1
  private val EmptyGroupShare = 0.05

  def generate(seed: Long, s: Sizes = Sizes()): Org = {
    val rnd = new SplittableRandom(seed)
    val hubShare = 0.88 + 0.06 * rnd.nextDouble()
    val externalShare = 0.05 + 0.10 * rnd.nextDouble()

    val label = ArrayBuffer.empty[Byte]
    val key = ArrayBuffer.empty[String]
    val props = ArrayBuffer.empty[Map[String, String]]
    def vertex(l: Byte, k: String, p: Map[String, String]): Int = {
      label += l; key += k; props += p; label.length - 1
    }
    val src = ArrayBuffer.empty[Int]
    val dst = ArrayBuffer.empty[Int]
    val edgeSet = scala.collection.mutable.HashSet.empty[Long]
    def edge(a: Int, b: Int): Unit =
      if (edgeSet.add(a.toLong << 32 | b)) { src += a; dst += b }
    def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.length))

    val users = (0 until s.users).map { i =>
      val ext = rnd.nextDouble() < externalShare
      val dom = if (ext) "partner.example" else "corp.example"
      vertex(Org.User, s"u$i@$dom", Map("isExternal" -> ext.toString))
    }
    // Groups by nesting level: level 0 holds the top-level groups, level
    // Depth-1 the innermost team groups. The seed draws the level profile:
    // how many groups sit at each level, with sizes growing inwards.
    val weights = (0 until Depth).map(l => 1.0 + l * (0.5 + rnd.nextDouble()))
    val perLevel = {
      val raw = weights.map(w => (w / weights.sum * (s.groups - 1)).toInt.max(1))
      raw.updated(Depth - 1, raw.last + (s.groups - 1 - raw.sum))
    }
    var gi = 0
    val levels = perLevel.map { k =>
      (0 until k).map { _ =>
        val g = vertex(Org.Group, s"g$gi@corp.example", Map("isExternal" -> "false"))
        gi += 1; g
      }
    }
    val hub = vertex(Org.Group, "all-users@corp.example", Map("isExternal" -> "false"))
    val groups = levels.flatten :+ hub
    val empty = groups.filter(g => g != hub && rnd.nextDouble() < EmptyGroupShare).toSet
    val sas = (0 until s.serviceAccounts).map { i =>
      vertex(Org.ServiceAccount, s"sa$i@p${rnd.nextInt(s.projects)}.iam.example",
        Map("displayName" -> s"service $i"))
    }
    val projects = (0 until s.projects).map { i =>
      vertex(Org.Project, s"p-$i", Map("name" -> s"project $i"))
    }
    val buckets = (0 until s.buckets).map { i =>
      vertex(Org.Bucket, s"b-$i", Map("location" -> pick(IndexedSeq("US", "EU", "ASIA"))))
    }
    val permissions = (0 until s.permissions).map { i =>
      vertex(Org.Permission, s"svc${i % 23}.res$i.${pick(IndexedSeq("get", "list", "update", "delete"))}",
        Map.empty)
    }
    val grants = RoleNames.map(r =>
      r -> IndexedSeq.fill(2 + rnd.nextInt(3))(pick(permissions)).distinct).toMap

    // Nesting: every group below the top level sits in one parent one
    // level up, one in ten in a second parent; the hub sits beside the
    // team groups, in one group of the level above them.
    val parent = scala.collection.mutable.HashMap.empty[Int, Int]
    val second = scala.collection.mutable.HashMap.empty[Int, Int].withDefaultValue(-1)
    for (l <- 1 until Depth; g <- levels(l)) {
      parent(g) = pick(levels(l - 1))
      edge(g, parent(g))
      if (rnd.nextDouble() < 0.1) { second(g) = pick(levels(l - 1)); edge(g, second(g)) }
    }
    edge(hub, pick(levels(Depth - 2)))
    // Membership cycles: a group joins one of its own member team groups
    // (a team with a single parent, so the cycle adds no longer path).
    for (_ <- 0 until s.cycles) {
      val child = pick(levels(Depth - 1))
      if (second(child) < 0) edge(parent(child), child)
    }
    for (_ <- 0 until s.selfLoops) { val g = pick(groups); edge(g, g) }

    // Users join one or two team groups (the two innermost levels),
    // and most of them the hub.
    val teams = (levels(Depth - 1) ++ levels(Depth - 2)).filterNot(empty)
    users.foreach { u =>
      for (_ <- 0 until 1 + rnd.nextInt(2)) edge(u, pick(teams))
      if (rnd.nextDouble() < hubShare) edge(u, hub)
    }
    val memberGroups = groups.filterNot(g => empty(g) || g == hub)
    sas.foreach(sa => if (rnd.nextBoolean()) edge(sa, pick(memberGroups)))

    // IAM bindings: one role vertex per (resource, role); its members are
    // groups, users and service accounts. The hub holds the viewer role
    // on a few shared projects.
    val roleAt = scala.collection.mutable.HashMap.empty[String, Int]
    def bind(resource: Int, resKey: String, roleName: String): Int = {
      val rk = s"$resKey/${roleName.stripPrefix("roles/")}"
      val r = roleAt.getOrElseUpdate(rk, {
        val r = vertex(Org.Role, rk, Map("role" -> roleName))
        edge(r, resource)
        grants(roleName).foreach(p => edge(p, r))
        r
      })
      for (_ <- 0 until 1 + rnd.nextInt(2)) {
        val x = rnd.nextDouble()
        edge(if (x < 0.5) pick(groups) else if (x < 0.85) pick(users) else pick(sas), r)
      }
      r
    }
    projects.zipWithIndex.foreach { case (p, i) =>
      for (_ <- 0 until RolesPerProject) bind(p, s"projects/p-$i", pick(ProjectRoles))
    }
    buckets.zipWithIndex.foreach { case (b, i) =>
      for (_ <- 0 until RolesPerBucket) bind(b, s"buckets/b-$i", pick(BucketRoles))
    }
    for (_ <- 0 until 3) {
      val j = rnd.nextInt(s.projects)
      edge(hub, bind(projects(j), s"projects/p-$j", "roles/viewer"))
    }

    new Org(label.toArray, key.toArray, props.toArray, src.toArray, dst.toArray, hub)
  }
}
