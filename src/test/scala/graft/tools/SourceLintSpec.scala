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
    // plans it runs are not the plans the oracle certifies (the needles
    // are split so this file does not match itself). In src/main a derived
    // session and a codegen key are a second conf too: the diff apply's
    // interpreted setting lives in the factory, so it cannot drift onto
    // the import path. Comments may name those two.
    val builder = "SparkSession" + ".builder"
    val derived = Seq("newSession" + "(", "spark.sql" + ".codegen.")
    def code(l: String): String = {
      val c = l.replaceAll("//.*", "").trim
      if (c.startsWith("*") || c.startsWith("/*")) "" else c
    }
    val offenders = for {
      f <- scalaFiles("src")
      if f.getPath != "src/main/scala/graft/Session.scala"
      main = f.getPath.startsWith("src/main/")
      (n, l) <- linesOf(f)
      if l.contains(builder) || (main && derived.exists(code(l).contains))
    } yield s"${f.getPath}:$n: $l"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only graft/obs registers a Spark listener in src/main") {
    // one meter: a listener of its own is one more ad-hoc meter beside
    // graft.obs.Obs (Bench, QueryProfile, the diff timing and the import
    // statistics each had one). The needles are split so this file does
    // not match itself.
    val needles = Seq("addSpark" + "Listener", "listenerManager" + ".register")
    val offenders = for {
      f <- scalaFiles("src/main/scala")
      if !f.getPath.startsWith("src/main/scala/graft/obs/")
      (n, l) <- linesOf(f)
      if needles.exists(l.contains)
    } yield s"${f.getPath}:$n: $l"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("in graft/streaming only Pointer.scala renames a file") {
    // one commit protocol: every pointer file goes tmp -> sync -> rename
    // through graft.streaming.Pointer; a rename of its own elsewhere is one
    // more protocol for the crash-at-every-step checks to miss. The one
    // other rename is Replication.httpFetch's `.part` download, which
    // moves a change file, not a pointer, into place. The needles are
    // split so this file does not match itself.
    val needles = Seq("." + "rename(", "." + "renameTo(", "Files." + "move(")
    val allowed = Set(("Replication.scala", "Files." + "move(tmp, dst"))
    val offenders = for {
      f <- scalaFiles("src/main/scala/graft/streaming")
      if f.getName != "Pointer.scala"
      (n, l) <- linesOf(f)
      if needles.exists(l.contains)
      if !allowed.exists { case (file, call) => f.getName == file && l.contains(call) }
    } yield s"${f.getPath}:$n: $l"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every SPARK_GRAFT_* name in src/main is documented in README.md") {
    // the env surface is what a user can set; a name the README does not
    // carry is an undocumented knob
    val name = "SPARK_GRAFT_[A-Z0-9_]+".r
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    val documented = try name.findAllIn(readme.mkString).toSet finally readme.close()
    val offenders = for {
      f <- scalaFiles("src/main/scala")
      (n, l) <- linesOf(f)
      m <- name.findAllIn(l)
      if !documented.contains(m)
    } yield s"${f.getPath}:$n: $m"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every src/main module is named by code outside its own file") {
    // a module that only its own spec reaches is dead weight the system
    // never calls (EventsStream, StreamingPacker, ZOrder and
    // GeomUnionAggregator were). A module is one file: the helper types it
    // defines beside its main object count as part of it. Comments are no
    // caller, so they are stripped before searching.
    val allowed = Map(
      "graft/Main.scala" -> "entry point: the imposm-style CLI",
      "graft/Verify.scala" -> "entry point: runMain graft.Verify",
      "graft/Bench.scala" -> "entry point: runMain graft.Bench",
      "graft/PlanDump.scala" -> "entry point: runMain graft.PlanDump",
      "graft/QueryProfile.scala" -> "entry point: runMain graft.QueryProfile",
      "graft/queries/package.scala" -> "package object, in scope without a name",
      "graft/sinks/PostgisImport.scala" ->
        "PostGIS output path, driven by PostgisImportSpec and LivePostgisSpec",
      "graft/sinks/CopySink.scala" ->
        "PostGIS output path, driven by PostgisImportSpec and LivePostgisSpec")
    val main = "src/main/scala/"
    val stale = allowed.keys.filterNot(k => new java.io.File(main + k).isFile)
    assert(stale.isEmpty, s"allowlisted files that no longer exist: $stale")
    def read(f: java.io.File): String = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }
    def code(f: java.io.File): String =
      read(f).replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val topLevel = ("(?m)^(?:(?:final|sealed|abstract|case|implicit|" +
      "private(?:\\[\\w+\\])?)\\s+)*(?:object|class|trait)\\s+(\\w+)").r
    val modules = scalaFiles(main)
    val texts = (modules ++ scalaFiles("perfbench/src")).map(f => f -> code(f))
    val services = Option(new java.io.File("src/main/resources/META-INF/services")
      .listFiles()).getOrElse(Array.empty).map(read).mkString("\n")
    val offenders = for {
      f <- modules
      if !allowed.contains(f.getPath.stripPrefix(main))
      names = topLevel.findAllMatchIn(read(f)).map(_.group(1)).toSeq
      named = (n: String) => s"\\b$n\\b".r
      if !names.exists { n =>
        named(n).findFirstIn(services).isDefined ||
          texts.exists { case (g, t) => g != f && named(n).findFirstIn(t).isDefined }
      }
    } yield s"${f.getPath}: ${names.mkString(", ")}"
    assert(offenders.isEmpty,
      "modules nothing outside their own file names (delete them, or " +
        "allowlist them with a reason):\n" + offenders.mkString("\n"))
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
