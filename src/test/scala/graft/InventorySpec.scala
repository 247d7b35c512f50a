package graft

import org.scalatest.funsuite.AnyFunSuite

/** Locks the README's inventory numbers to the actual registry so the
  * counts cannot drift when queries are added (they did twice before this
  * spec existed — round-3 README claimed 133/122 against an actual
  * 134/123).
  */
class InventorySpec extends AnyFunSuite {

  test("README query/oracle counts match Registry.all") {
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    val text = try readme.mkString finally readme.close()
    val m = """\((\d+) queries, (\d+) with""".r.findFirstMatchIn(text)
      .getOrElse(fail("README.md no longer states the query inventory counts"))
    val declared = Registry.all.size
    val withOracle = Registry.all.values.count(_.oracle.isDefined)
    assert(m.group(1).toInt == declared,
      s"README claims ${m.group(1)} queries; Registry.all has $declared")
    assert(m.group(2).toInt == withOracle,
      s"README claims ${m.group(2)} oracles; Registry has $withOracle")
  }

  test("every declared query has an oracle (round-4 contract: zero err rows)") {
    val missing = Registry.all.collect { case (k, q) if q.oracle.isEmpty => k }
    assert(missing.isEmpty, s"queries without oracle: ${missing.mkString(", ")}")
  }

  test("SparkEntry exposes exactly the registry") {
    assert(SparkEntry.queries.keySet == Registry.all.keySet)
    assert(SparkEntry.oracleSql.keySet ==
      Registry.all.collect { case (k, q) if q.oracle.isDefined => k }.toSet)
  }

  test("every bench override shadows an oracle-checked declared query") {
    // A bench override times an operator-only plan under a declared
    // query's name; the contract is that the SAME name stays in
    // Registry.all with a real oracle, so nothing the bench reports is
    // outside the correctness gate.
    Registry.benchOverrides.keySet.foreach { k =>
      assert(Registry.all.contains(k), s"bench override $k has no correctness twin")
      assert(Registry.all(k).oracle.isDefined, s"$k's correctness twin lost its oracle")
    }
    // and overrides must cover every headline name that differs from all
    assert(Registry.headline.toSet.subsetOf(Registry.bench.keySet))
  }

  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("Engine.session is the only SparkSession builder in src/main") {
    // one session factory: every main measures the engine perfbench measures
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val builders = files(new java.io.File("src/main/scala"))
      .filter(f => f.getName.endsWith(".scala") &&
        """SparkSession\s*\.\s*builder""".r.findFirstIn(read(f)).isDefined)
      .map(_.getPath)
    assert(builders == Seq("src/main/scala/graft/Engine.scala"), builders.mkString(", "))
  }

  test("every runMain named in the docs and scripts resolves to a main") {
    val docs = Seq("README.md", ".claude/skills/verify/SKILL.md").map(new java.io.File(_)) ++
      new java.io.File("tools").listFiles().toSeq.filter(_.getName.endsWith(".sh"))
    val named = docs.flatMap(f =>
      """runMain\s+(graft\.[\w.]+)""".r.findAllMatchIn(read(f)).map(m => f.getPath -> m.group(1)))
    assert(named.map(_._2).toSet.contains("graft.Verify"), named.mkString(", "))
    named.foreach { case (doc, main) =>
      val cls = try Class.forName(main, false, getClass.getClassLoader)
        catch { case _: ClassNotFoundException => fail(s"$doc runs $main, which does not exist") }
      assert(cls.getMethods.exists(_.getName == "main"), s"$doc runs $main, which has no main")
    }
  }
}
