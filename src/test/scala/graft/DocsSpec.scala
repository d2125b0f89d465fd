package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the documented counts to reality so the docs can't drift
  * (README's test/oracle-query totals went stale three rounds
  * running). The suite total is computed the way ScalaTest itself
  * counts: every compiled `Suite` on the test classpath is
  * instantiated (registration only — nothing runs; the shared
  * SparkSession is a lazy val no constructor touches) and
  * `expectedTestCount` summed. */
class DocsSpec extends AnyFunSuite {

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  test("README oracle-query count matches SparkEntry.queries") {
    val claimed = """\((\d+) oracle queries""".r
      .findFirstMatchIn(read("README.md"))
      .map(_.group(1).toInt)
    assert(claimed.contains(SparkEntry.queries.size),
      s"README claims $claimed oracle queries; " +
        s"SparkEntry.queries has ${SparkEntry.queries.size}")
  }

  test("every oracle query's id appears in COVERAGE.md") {
    val coverage = read("COVERAGE.md")
    // ranges like "q12–q15" (en dash) cover every id in between
    val ranged = """q(\d+)[–-]q(\d+)""".r
      .findAllMatchIn(coverage)
      .flatMap(m => m.group(1).toInt to m.group(2).toInt)
      .toSet
    val missing = SparkEntry.queries.keySet
      .map(_.takeWhile(_ != '_')) // q101_curate_neardup -> q101
      .filterNot(id =>
        coverage.contains(id) || ranged.contains(id.drop(1).toInt))
    assert(missing.isEmpty, s"COVERAGE.md has no row mentioning: $missing")
  }

  test("every README runMain target is a compiled main") {
    val targets = """runMain (graft\.[\w.]+)""".r
      .findAllMatchIn(read("README.md")).map(_.group(1)).toList.distinct
    assert(targets.nonEmpty, "README names no runMain target")
    val missing = targets.filterNot { n =>
      try java.lang.reflect.Modifier.isStatic(
        Class.forName(n, false, getClass.getClassLoader)
          .getMethod("main", classOf[Array[String]]).getModifiers)
      catch { case _: ReflectiveOperationException => false }
    }
    assert(missing.isEmpty, s"README runs mains that do not exist: $missing")
  }

  test("README names exactly the spark.graft.* keys src/main reads") {
    val read0 = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => "\"(spark\\.graft\\.[\\w.]+)\"".r
        .findAllMatchIn(read(p.toString)).map(_.group(1)))
      .toSet
    val named = """spark\.graft\.\w+(?:\.\w+)*""".r
      .findAllIn(read("README.md")).toSet
    assert(read0.nonEmpty, "found no spark.graft.* key under src/main")
    assert((read0 -- named).isEmpty,
      s"keys read under src/main but not in README: ${read0 -- named}")
    assert((named -- read0).isEmpty,
      s"keys in README but read nowhere under src/main: ${named -- read0}")
  }

  test("README test count matches the registered suite total") {
    val classesDir = Paths.get("target/scala-2.13/test-classes")
    assume(Files.isDirectory(classesDir), "compiled test classes not found")
    val names = Files.walk(classesDir).iterator().asScala
      .filter(p => p.toString.endsWith(".class") && !p.toString.contains("$"))
      .map { p: Path =>
        classesDir.relativize(p).toString
          .stripSuffix(".class").replace(java.io.File.separatorChar, '.')
      }
      .toList
    val suiteCls = classOf[org.scalatest.Suite]
    val total = names.flatMap { n =>
      val cls = Class.forName(n, false, getClass.getClassLoader)
      if (suiteCls.isAssignableFrom(cls) &&
        !java.lang.reflect.Modifier.isAbstract(cls.getModifiers))
        Some(cls.getDeclaredConstructor().newInstance()
          .asInstanceOf[org.scalatest.Suite]
          .expectedTestCount(org.scalatest.Filter.default))
      else None
    }.sum
    assert(total > 0, "found no suites — classpath scan broken")
    val claimed = """\((\d+) tests""".r
      .findFirstMatchIn(read("README.md"))
      .map(_.group(1).toInt)
    assert(claimed.contains(total),
      s"README claims $claimed tests; registered total is $total")
  }
}
