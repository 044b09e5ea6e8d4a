package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Source lints for bug patterns that review keeps finding — encoded as a
  * test so a regression fails the suite instead of waiting for the next
  * review pass. Each rule had a real instance: locale-dependent number
  * formatting flipped the bench JSON's decimal separator risk
  * (Bench Locale.ROOT fix), and per-invocation temp directories leaked a
  * build per gate/probe run until FixtureArtifacts centralized them.
  */
class SourceLintSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File(root))
  }

  private def linesOf(f: java.io.File): Seq[(Int, String)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toList.zipWithIndex.map { case (l, i) => (i + 1, l) }
    finally src.close()
  }

  test("String.format in src/main always pins Locale.ROOT") {
    // the default-locale overloads format floats with a comma decimal
    // separator under e.g. tr_TR/de_DE — in a machine-parsed JSON line
    // that is silent corruption
    val offenders = for {
      f <- scalaFiles("src/main/scala")
      (n, l) <- linesOf(f)
      if l.contains("String.format(") && !l.contains("Locale.ROOT")
    } yield s"${f.getPath}:$n: $l"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("gate queries build fixture artifacts through FixtureArtifacts") {
    // a bare createTempDirectory in a registered query leaks one build per
    // invocation (the gate runs some queries twice; probes multiply it)
    val offenders = for {
      f <- scalaFiles("src/main/scala/graft/queries")
      if f.getName != "FixtureArtifacts.scala"
      (n, l) <- linesOf(f)
      if l.contains("createTempDirectory")
    } yield s"${f.getPath}:$n: $l"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only graft/Session.scala builds a SparkSession") {
    // one session factory: a second builder is a second conf, and the
    // plans it runs are not the plans the oracle certifies (the needle is
    // split so this file does not match itself)
    val needle = "SparkSession" + ".builder"
    val offenders = for {
      f <- scalaFiles("src")
      if f.getPath != "src/main/scala/graft/Session.scala"
      (n, l) <- linesOf(f)
      if l.contains(needle)
    } yield s"${f.getPath}:$n: $l"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("SQL DROP statements never backtick-quote a whole interpolated name") {
    // `\"DROP TABLE IF EXISTS `$tbl`\"` treats db.tbl as ONE identifier and
    // silently misses the real table — quote the parsed PARTS instead
    // (Bucketing.writeBucketed is the reference spelling)
    val offenders = for {
      f <- scalaFiles("src/main/scala")
      (n, l) <- linesOf(f)
      if l.contains("DROP TABLE") && l.contains("`$")
    } yield s"${f.getPath}:$n: $l"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
