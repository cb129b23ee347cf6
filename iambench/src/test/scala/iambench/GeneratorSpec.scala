package iambench

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The generator is a pure function of the seed: the same seed writes the
  * same bytes, another seed another organisation of the same size. */
class GeneratorSpec extends AnyFunSuite {

  private def written(seed: Long): Map[String, Array[Byte]] = {
    val dir = Files.createTempDirectory("iambench-gen").toFile
    try {
      val in = new Inputs(Generator.generate(seed, Generator.Small), seed)
      in.writeBase(new File(dir, "groovy"))
      in.writeDelta(new File(dir, "delta"))
      in.writeStreams(new File(dir, "streams"))
      Seq("groovy", "delta", "streams").flatMap { d =>
        new File(dir, d).listFiles().toSeq.map(f => s"$d/${f.getName}" -> Files.readAllBytes(f.toPath))
      }.toMap
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("the same seed writes byte-identical scripts and query streams") {
    val (a, b) = (written(7), written(7))
    assert(a.keySet == b.keySet && a.size == 7 + 7 + 4)
    a.foreach { case (f, bytes) => assert(bytes.sameElements(b(f)), f) }
  }

  test("another seed gives another organisation of the same size") {
    val (a, b) = (written(7), written(8))
    assert(a.keySet == b.keySet)
    assert(a.exists { case (f, bytes) => !bytes.sameElements(b(f)) })
    val (x, y) = (Generator.generate(7, Generator.Small), Generator.generate(8, Generator.Small))
    Seq(Org.User, Org.Group, Org.ServiceAccount, Org.Project, Org.Bucket, Org.Permission)
      .foreach(l => assert(x.ofLabel(l).size == y.ofLabel(l).size, Org.LabelNames(l)))
    assert(x.src.toSeq != y.src.toSeq || x.dst.toSeq != y.dst.toSeq)
  }

  test("the organisation has the adversarial shapes: cycles, self-loops, empty groups, a hub") {
    val org = Generator.generate(11)
    val groups = org.ofLabel(Org.Group)
    assert(org.src.indices.exists(j => org.src(j) == org.dst(j)), "self-membership")
    assert(groups.exists(g => org.out(g).exists(p => org.out(p).contains(g))), "a 2-cycle")
    assert(groups.exists(g => org.in(g).isEmpty), "an empty group")
    val users = org.ofLabel(Org.User).size
    assert(org.in(org.hub).size > 0.85 * users, "the hub holds almost every user")
    assert(org.ofLabel(Org.User).size + groups.size + org.ofLabel(Org.ServiceAccount).size ==
      Generator.Sizes().principals)
  }

  test("vertex ids are the loader's: 60-bit md5 of label:key") {
    val md = java.security.MessageDigest.getInstance("MD5").digest("user:a@b.c".getBytes("UTF-8"))
    val hex = md.map(b => f"${b & 0xff}%02x").mkString
    assert(Org.vertexId("user", "a@b.c") == java.lang.Long.parseLong(hex.take(15), 16))
  }

  test("the generator's closure counts (a, a) exactly for vertices on a cycle") {
    // a -> b -> a, b -> c, d -> d : pairs ab aa ac ba bb bc dd
    val org = new Org(Array.fill(4)(Org.Group), Array("a", "b", "c", "d"), Array.fill(4)(Map.empty),
      Array(0, 1, 1, 3), Array(1, 0, 2, 3), 0)
    assert(org.closureDigest.count == 7)
    assert(org.longestShortestPath == 2)
    assert(org.reachUntil(Seq(0), _ == 1) == Set(1))
    assert(org.reachUntil(Seq(0), _ => false) == Set(0, 1, 2))
  }
}
