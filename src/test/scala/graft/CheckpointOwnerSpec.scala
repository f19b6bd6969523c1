package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source audit for GateUtil.Scope's ownership rule, shaped like
  * CollectRegistrySpec: an eager checkpoint anywhere but GateUtil would
  * bypass the scope (unrecorded blocks, an inherited size estimate), and
  * a getPersistentRDDs diff is exactly the bookkeeping the scope
  * replaced — it misattributes blocks once another job shares the
  * SparkContext. Bench alone may read the registry: it asserts that a
  * gate left nothing behind. */
class CheckpointOwnerSpec extends AnyFunSuite {

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
    val kids = Option(dir.listFiles()).toSeq.flatten
    kids.filter(_.isDirectory).flatMap(scalaFiles) ++
      kids.filter(f => f.isFile && f.getName.endsWith(".scala"))
  }

  private def sitesOf(token: String, allowed: Set[String]): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"expected sources at ${root.getAbsolutePath}")
    scalaFiles(root).filterNot(f => allowed(f.getName)).flatMap { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex
        .collect { case (l, i) if l.contains(token) => s"${f.getName}:${i + 1}" }
    }
  }

  test("localCheckpoint( is called only inside GateUtil") {
    val sites = sitesOf("localCheckpoint(", Set("GateUtil.scala"))
    assert(sites.isEmpty, s"use GateUtil.Scope.checkpoint instead: ${sites.mkString(", ")}")
  }

  test("no operator diffs getPersistentRDDs") {
    val sites = sitesOf("getPersistentRDDs", Set("Bench.scala"))
    assert(sites.isEmpty, s"record blocks in a GateUtil.Scope instead: ${sites.mkString(", ")}")
  }
}
