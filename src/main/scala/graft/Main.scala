package graft

import java.time.{Duration, Instant}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.mapping.{CompiledMapping, MappingConf}
import graft.operators.{CacheQuery, ExpireTiles, GeohashSort, Limitto}
import graft.sinks.DeployRotate
import graft.sources.{OsmPbf, OsmXml}
import graft.streaming.{DiffPipeline, Replication, StateStore}

/** CLI entry point — the reference's `imposm COMMAND` dispatch
  * (cmd/imposm/main.go:18-71, config/config.go:180-300) over the Spark
  * engine. Commands:
  *
  *   import      -mapping M -read FILE [-write] [-connection DIR]
  *               [-cachedir DIR] [-diffdir DIR] [-srid N]
  *               [-limitto GEOJSON] [-limittocachebuffer DEG] [-optimize]
  *               [-overwritecache|-appendcache] [-diff]
  *               [-diff-state-before DUR] [-replication-interval DUR]
  *               [-store PREFIX] [-store-reuse] [-store-buckets N]
  *               [-deployproduction] [-revertdeploy] [-removebackup]
  *   diff        -mapping M [-cachedir DIR] [-diffdir DIR] [-srid N]
  *               [-expiretiles-dir DIR] [-expiretiles-zoom Z]
  *               [-force] [-commit-latest] FILE.osc.gz ...
  *   run         -mapping M [-cachedir DIR] -replication-url URL
  *               [-workdir DIR] [-from SEQ] [-interval SECONDS]
  *               [-replication-interval DUR] [-expiretiles-dir DIR]
  *               [-expiretiles-zoom Z] [-once]
  *   query-cache [-cachedir DIR] [-node IDS] [-way IDS] [-rel IDS]
  *               [-full] [-deps]
  *   corpus      -in DIR -out DIR [-min-tokens N]
  *   version
  *
  * Base flags shared by all commands (config/config.go:180-194):
  * `-config FILE.json` (flags override config values), `-quiet`,
  * `-httpprofile ADDR` (binds the Spark UI — the engine's native profile
  * server — where the reference binds Go pprof), `-dbschema-import`,
  * `-dbschema-production`, `-dbschema-backup`.
  *
  * The `-connection` of the reference is a PostGIS DSN; here it is the
  * output root holding the import/production/backup schema directories
  * that [[DeployRotate]] rotates. `-cachedir` is the element + output
  * state ([[StateStore]] root), the analog of the reference's LevelDB
  * cache plus diff state. `-diffdir` holds `last.state.txt`, the
  * applied-sequence pointer that `diff -force` overrides
  * (update/cmd.go:27, 322-367); it defaults to the cachedir.
  */
object Main {

  /** Usage/validation failure: thrown by [[run]], converted to exit code 1
    * by [[main]] — keeps the guard paths testable in-JVM. */
  final class MainExit(msg: String) extends RuntimeException(msg)

  private def fatal(msg: String): Nothing = {
    System.err.println(msg)
    throw new MainExit(msg)
  }

  private def usage(): Nothing = fatal(
    """Usage: graft.Main COMMAND [args]
      |
      |Available commands:
      |  import
      |  diff
      |  run
      |  query-cache
      |  corpus
      |  index
      |  search
      |  version""".stripMargin)

  /** Minimal `-flag value` / `-flag` parser; anything not starting with
    * '-' is positional (the diff command's change files). `-config` JSON
    * values fill flags the command line left unset (config.go:90-139
    * `updateFromConfig`: explicit flags win). */
  private final case class Args(flags: Map[String, String], positional: Seq[String]) {
    def str(name: String): Option[String] = flags.get(name)
    def required(name: String): String = flags.getOrElse(name,
      fatal(s"missing required -$name"))
    def bool(name: String): Boolean =
      flags.get(name).exists(v => v != "false" && v != "0")
    def long(name: String, default: Long): Long =
      flags.get(name).map(_.toLong).getOrElse(default)
    def int(name: String, default: Int): Int =
      flags.get(name).map(_.toInt).getOrElse(default)
    def double(name: String, default: Double): Double =
      flags.get(name).map(_.toDouble).getOrElse(default)
    /** Go-style duration ("1m", "1h", "24h", "90s"); bare numbers are
      * minutes (the config file's MinutesInterval convention). */
    def duration(name: String, default: Duration): Duration =
      flags.get(name).map(parseDuration).getOrElse(default)
  }

  private[graft] def parseDuration(s: String): Duration = s.trim match {
    case v if v.endsWith("ms") => Duration.ofMillis(v.dropRight(2).toLong)
    case v if v.endsWith("s") => Duration.ofSeconds(v.dropRight(1).toLong)
    case v if v.endsWith("m") => Duration.ofMinutes(v.dropRight(1).toLong)
    case v if v.endsWith("h") => Duration.ofHours(v.dropRight(1).toLong)
    case v if v.endsWith("d") => Duration.ofDays(v.dropRight(1).toLong)
    case v => Duration.ofMinutes(v.toLong)
  }

  private val boolFlags = Set("write", "optimize", "deployproduction",
    "revertdeploy", "removebackup", "once", "full", "deps",
    "overwritecache", "appendcache", "diff", "force", "commit-latest", "quiet",
    "strict", "append", "compact", "store-reuse")

  /** config.json keys → flag names (config/config.go:14-35). Nested
    * `schemas` handled separately. */
  private val configKeys = Map(
    "cachedir" -> "cachedir", "diffdir" -> "diffdir",
    "connection" -> "connection", "mapping" -> "mapping",
    "limitto" -> "limitto", "limitto_cache_buffer" -> "limittocachebuffer",
    "srid" -> "srid", "expiretiles_dir" -> "expiretiles-dir",
    "expiretiles_zoom" -> "expiretiles-zoom",
    "commit_latest" -> "commit-latest",
    "replication_url" -> "replication-url",
    "replication_interval" -> "replication-interval",
    "diff_state_before" -> "diff-state-before")

  private def loadConfig(path: String): Map[String, String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(new java.io.File(path))
    val out = Map.newBuilder[String, String]
    configKeys.foreach { case (key, flag) =>
      val v = node.get(key)
      if (v != null && !v.isNull) out += flag -> v.asText()
    }
    val schemas = node.get("schemas")
    if (schemas != null) {
      Seq("import", "production", "backup").foreach { s =>
        val v = schemas.get(s)
        if (v != null && !v.isNull) out += s"dbschema-$s" -> v.asText()
      }
    }
    out.result()
  }

  private def parse(args: Seq[String]): Args = {
    var flags = Map.empty[String, String]
    var positional = Vector.empty[String]
    var rest = args.toList
    while (rest.nonEmpty) {
      rest match {
        case f :: tail if f.startsWith("-") =>
          val name = f.dropWhile(_ == '-')
          if (boolFlags(name)) { flags += name -> "true"; rest = tail }
          else if (tail.isEmpty)
            fatal(s"missing value for -$name")
          else {
            // every non-bool flag takes a value — consume the next token
            // even when it starts with '-' (negative numbers: `-from -1`,
            // `-limittocachebuffer -0.5`)
            flags += name -> tail.head; rest = tail.tail
          }
        case p :: tail => positional :+= p; rest = tail
      }
    }
    val withConfig = flags.get("config") match {
      case Some(cfg) => loadConfig(cfg) ++ flags // explicit flags win
      case None => flags
    }
    Args(withConfig, positional)
  }

  private def session(a: Args): SparkSession = {
    // -httpprofile binds the engine's live-inspection server (reference:
    // Go pprof, config.go:189; here: the Spark UI with its stage/task/
    // memory/thread-dump views)
    val ui = a.str("httpprofile").fold(Map.empty[String, String]) { addr =>
      val (host, port) = addr.split(":", 2) match {
        case Array(h, p) if h.nonEmpty => (Some(h), p.toInt)
        case Array(_, p) => (None, p.toInt)
        case Array(p) => (None, p.toInt)
      }
      Map("spark.ui.enabled" -> "true", "spark.ui.port" -> port.toString) ++
        host.map("spark.driver.host" -> _)
    }
    val s = Session.build("graft", deploy = ui)
    s.sparkContext.setLogLevel(if (a.bool("quiet")) "ERROR" else "WARN")
    s
  }

  private def mappingOf(a: Args): CompiledMapping =
    new CompiledMapping(MappingConf.fromFile(a.required("mapping")))

  private def readBundle(spark: SparkSession, path: String,
      coverage: Option[Limitto] = None): OsmXml.Bundle =
    if (path.endsWith(".pbf")) OsmPbf.read(spark, path, coverage = coverage)
    else OsmXml.read(spark, path)

  private def schemaDirs(a: Args): (String, String, String) =
    (a.str("dbschema-import").getOrElse("import"),
      a.str("dbschema-production").getOrElse("production"),
      a.str("dbschema-backup").getOrElse("backup"))

  private def rotator(spark: SparkSession, a: Args): DeployRotate = {
    val (imp, prod, bak) = schemaDirs(a)
    new DeployRotate(spark, a.required("connection"), imp, prod, bak)
  }

  // -- import ----------------------------------------------------------------

  /** Merge a fresh bundle over the stored one (`-appendcache`,
    * import_/import.go:84-101: new elements join the existing cache; a
    * re-read element replaces its old version). */
  private def mergeBundles(old: OsmXml.Bundle, nw: OsmXml.Bundle): OsmXml.Bundle = {
    def m(o: org.apache.spark.sql.DataFrame, n: org.apache.spark.sql.DataFrame) =
      o.join(n.select("id").distinct(), Seq("id"), "left_anti").unionByName(n)
    OsmXml.Bundle(
      coords = m(old.coords, nw.coords),
      nodes = m(old.nodes, nw.nodes),
      ways = m(old.ways, nw.ways),
      relations = m(old.relations, nw.relations))
  }

  private def runImport(spark: SparkSession, a: Args): Unit = {
    val doRotate = a.bool("deployproduction") || a.bool("revertdeploy") ||
      a.bool("removebackup")
    // -read + -write: full initial import into the state store
    if (a.str("read").nonEmpty && a.bool("write")) {
      val mapping = mappingOf(a)
      val cachedir = a.required("cachedir")
      val store = new StateStore(spark, cachedir)
      val existingSeq = store.currentSeq
      // cache-exists guard (import_/import.go:77-87)
      val startSeq =
        if (existingSeq >= 0) {
          if (a.bool("overwritecache")) {
            System.err.println(s"[info] removing existing cache $cachedir")
            val p = new Path(cachedir)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
            0L
          } else if (a.bool("appendcache")) existingSeq + 1
          else fatal("cache already exists use -appendcache or -overwritecache")
        } else 0L
      val limit = a.str("limitto").map(p =>
        new Limitto(p, bufferDist = a.double("limittocachebuffer", 0.0),
          srid = a.long("srid", 3857).toInt))
      val readPath = a.required("read")
      // initial (pre-coalesce) shuffle partitions sized to the INPUT, not
      // cores: bounds per-partition bytes on big imports (measured 1.9× on
      // a 79M-element import, spill-bound at 1×cores) while small extracts
      // skip the flat scheduling tax of wide initial shuffles (r10 verdict
      // #2: 8×cores cost a flat ~5.6 s on a 100 MB input) — see Session
      Session.sizeToInput(spark, Seq(readPath))
      // -limitto also prunes whole out-of-coverage PBF blobs at the source
      // (header-bbox vs buffered coverage) before the per-element filters
      var bundle = readBundle(spark, readPath, limit)
      if (startSeq > 0) // append: merge over the committed state
        bundle = mergeBundles(DiffPipeline.storedBundleAt(spark, cachedir, existingSeq), bundle)
      // -store PREFIX: resolve J1 through a Spark-bucketed element store
      // (`PREFIX_wayrefs` ⋈ `PREFIX_coords`, both bucketed+sorted by id —
      // the reference's ID-sorted LevelDB layout, cache/delta.go:12-35).
      // The bucketing shuffle is paid at store-write time; the assembly
      // join itself then plans with ZERO exchanges, which the bench A/B
      // measured as the faster read side (r8: 16.4 s from-store vs 20.2 s
      // in-pipeline at synth400). -store-reuse skips the write and
      // assembles straight off the existing tables — the repeated-read
      // path a re-import over an unchanged cache amortizes the write
      // against (same trust model as -appendcache: the caller asserts the
      // store matches the bundle).
      val assembler = a.str("store") match {
        case None => graft.operators.WayAssembly.resolve _
        case Some(prefix) =>
          val reuse = a.bool("store-reuse")
          val nBuckets = a.int("store-buckets", 32)
          (ways: org.apache.spark.sql.DataFrame,
           coords: org.apache.spark.sql.DataFrame) => {
            if (!reuse) graft.operators.WayAssembly.writeStore(ways, coords, prefix, nBuckets)
            graft.operators.WayAssembly.resolveStore(spark, prefix)
          }
      }
      val tables = DiffPipeline.init(spark, mapping, cachedir, bundle,
        a.long("srid", 3857).toInt, limit = limit, startSeq = startSeq,
        assembler = assembler)
      // export to the connection root's import schema (K1 bulk load into
      // the blue/green layout; optionally K5-clustered)
      a.str("connection").foreach { conn =>
        val (importSchema, _, _) = schemaDirs(a)
        tables.foreach { case (name, df) =>
          val out = if (a.bool("optimize") && df.columns.contains("geometry"))
            GeohashSort.clustered(df)
          else df
          out.write.mode("overwrite").parquet(s"$conn/$importSchema/$name")
        }
      }
      // -diff: seed last.state.txt for the replication commands
      // (import_/import.go:123-135, import_/state.go:15-36) — the PBF
      // header's osmosis replication fields when present, else the file's
      // modification time; -diff-state-before backdates by whole intervals
      if (a.bool("diff")) {
        val diffdir = a.str("diffdir").getOrElse(cachedir)
        val interval = a.duration("replication-interval", Duration.ofMinutes(1))
        val before = a.duration("diff-state-before", Duration.ZERO)
        val hdr =
          if (readPath.endsWith(".pbf")) OsmPbf.header(spark, readPath)
          else OsmPbf.PbfHeader(None, None, None)
        val ts = hdr.replicationTimestamp.getOrElse {
          val p = new Path(readPath)
          Instant.ofEpochMilli(p.getFileSystem(
            spark.sparkContext.hadoopConfiguration).getFileStatus(p).getModificationTime)
        }
        val backIntervals = math.ceil(
          before.getSeconds.toDouble / math.max(1, interval.getSeconds)).toLong
        val seq = hdr.replicationSequence.map(_ - backIntervals).getOrElse(0L)
        val st = Replication.State(math.max(0L, seq),
          ts.minus(before), hdr.replicationUrl.getOrElse(""))
        Replication.writeLocalStateAt(spark, s"$diffdir/last.state.txt", st)
        System.err.println(
          s"[info] diff state: sequence ${st.sequence} timestamp ${st.timestamp}")
      }
    } else if (!doRotate)
      fatal("import: nothing to do (need -read FILE -write, or a deploy flag)")
    if (a.bool("deployproduction")) rotator(spark, a).deploy()
    if (a.bool("revertdeploy")) rotator(spark, a).revert()
    if (a.bool("removebackup")) rotator(spark, a).removeBackup()
  }

  // -- diff ------------------------------------------------------------------

  /** Sibling `X.state.txt` of an `X.osc[.gz]` change file
    * (update/cmd.go:330-339). */
  private def sidecarState(spark: SparkSession, osc: String): Option[Replication.State] = {
    val base =
      if (osc.endsWith(".osc.gz")) osc.dropRight(".osc.gz".length)
      else if (osc.endsWith(".osc")) osc.dropRight(".osc".length)
      else return None
    Replication.readLocalStateAt(spark, base + ".state.txt")
  }

  private def runDiff(spark: SparkSession, a: Args): Unit = {
    val mapping = mappingOf(a)
    val cachedir = a.required("cachedir")
    val diffdir = a.str("diffdir").getOrElse(cachedir)
    val lastStatePath = s"$diffdir/last.state.txt"
    val commitLatest = a.bool("commit-latest")
    val force = a.bool("force")
    if (a.positional.isEmpty) fatal("diff: no change files given")
    val lastImported = Replication.readLocalStateAt(spark, lastStatePath)
    val store = new StateStore(spark, cachedir)
    var cur = store.currentSeq
    require(cur >= 0, s"no committed state in $cachedir — run import first")
    var applied: Option[Replication.State] = None
    a.positional.sorted.foreach { osc =>
      val sidecar = sidecarState(spark, osc)
      val alreadyImported = (sidecar, lastImported) match {
        case (Some(s), Some(l)) => s.sequence <= l.sequence && !force
        case _ => false
      }
      if (alreadyImported)
        System.err.println(s"[info] skipping ${sidecar.get.sequence} " +
          s"(${sidecar.get.timestamp}), already imported")
      else {
        DiffPipeline.applyDiff(spark, mapping, cachedir,
          OsmXml.readDiff(spark, osc).toDF(), a.long("srid", 3857).toInt,
          expireDir = a.str("expiretiles-dir"),
          expireZoom = a.int("expiretiles-zoom", ExpireTiles.DefaultZoom),
          from = Some(cur), commit = !commitLatest)
        cur += 1
        applied = sidecar.orElse(applied)
        // the applied-sequence pointer follows the commit
        // (update/cmd.go:184-216 flush: DB End + markImported together)
        if (!commitLatest) sidecar.foreach(
          Replication.writeLocalStateAt(spark, lastStatePath, _))
      }
    }
    if (commitLatest && cur > store.currentSeq) {
      store.commit(cur)
      applied.foreach(Replication.writeLocalStateAt(spark, lastStatePath, _))
    }
  }

  // -- run (continuous replication) -----------------------------------------

  private def runReplication(spark: SparkSession, a: Args): Unit = {
    val mapping = mappingOf(a)
    val cachedir = a.required("cachedir")
    val url = a.required("replication-url")
    val workdir = a.str("workdir").getOrElse(s"$cachedir/replication-work")
    val fetch: Option[(String, String) => Boolean] =
      if (url.startsWith("http")) Some(Replication.httpFetch() _) else None
    if (a.bool("commit-latest"))
      System.err.println("[warn] run applies each diff as its own " +
        "versioned-store commit; -commit-latest has no batching to defer")
    val intervalMs = a.str("replication-interval")
      .map(parseDuration(_).toMillis)
      .getOrElse(a.long("interval", 60L) * 1000)
    // resume point when no replication.state.txt exists yet: the
    // last.state.txt seeded by `import -diff` (the PBF header's osmosis
    // sequence — the reference's `imposm run` continues from it,
    // update/run.go analog), then the explicit -from, then 1. replicate()
    // itself always prefers $cachedir/replication.state.txt once written.
    val seeded =
      if (Replication.readLocalState(spark, cachedir).isDefined) None
      else {
        val diffdir = a.str("diffdir").getOrElse(cachedir)
        Replication.readLocalStateAt(spark, s"$diffdir/last.state.txt")
          .map(_.sequence + 1)
      }
    // explicit -from always wins over the seeded state (the escape hatch for
    // a stale/bad seed, matching the repo's flags-beat-files convention)
    val from = a.str("from").map(_.toLong).orElse(seeded).getOrElse(1L)
    if (a.str("from").isEmpty) seeded.foreach(s =>
      System.err.println(
        s"[run] seeded state sequence ${s - 1}, fetching from $s"))
    var go = true
    while (go) {
      val applied = Replication.replicate(spark, mapping, cachedir, url,
        workdir, from = from, srid = a.long("srid", 3857).toInt,
        fetch = fetch, expireDir = a.str("expiretiles-dir"),
        expireZoom = a.int("expiretiles-zoom", ExpireTiles.DefaultZoom))
      System.err.println(s"[run] replicated through sequence $applied")
      if (a.bool("once")) go = false else Thread.sleep(intervalMs)
    }
  }

  // -- query-cache -----------------------------------------------------------

  /** `corpus -in DIR -out DIR [-min-tokens N]` — the training-data
    * release pipeline (operators/CorpusRelease): gate → exact dedup →
    * deterministic split → split-partitioned parquet + manifest. The
    * manifest rows print to stdout (control-plane: splits×languages).
    */
  private def runCorpus(spark: SparkSession, a: Args): Unit = {
    // `corpus -in RAW -out R1` = batch release;
    // `corpus -prev R1 -delta DIR -out R2` = incremental maintenance;
    // `corpus -prev R1 -stream DIR -out ROOT` = continuous maintenance
    // (drains available delta files into release generations, then stops —
    // the `imposm run` analog for corpora; re-invoke to catch up again)
    a.str("stream") match {
      case Some(streamDir) =>
        val outRoot = a.required("out")
        val q = graft.streaming.StreamingRelease.start(spark, streamDir,
          a.required("prev"), outRoot, a.long("min-tokens", 50L),
          availableNow = true)
        q.awaitTermination()
        val gen = graft.streaming.StreamingRelease.headGeneration(outRoot)
        println(s"[corpus] stream drained; HEAD gen=$gen at " +
          graft.streaming.StreamingRelease.currentRelease(
            outRoot, a.required("prev")))
        return
      case None => ()
    }
    // size initial shuffle partitions to the corpus being processed —
    // the batch release and delta paths shuffle the whole input
    a.str("in").orElse(a.str("prev"))
      .foreach(p => Session.sizeToInput(spark, Seq(p)))
    val manifest = a.str("delta") match {
      case Some(delta) => graft.operators.CorpusRelease.applyDelta(spark,
        a.required("prev"), delta, a.required("out"),
        a.long("min-tokens", 50L), a.bool("strict"))
      case None => graft.operators.CorpusRelease.run(spark,
        a.required("in"), a.required("out"), a.long("min-tokens", 50L),
        a.bool("strict"))
    }
    manifest.collect().foreach { r =>
      println(s"[corpus] ${r.getString(0)} ${r.getString(1)}: " +
        s"${r.getLong(2)} docs, ${r.getLong(3)} tokens")
    }
  }

  /** `index -in DOCS -out IDX [-append] [-compact]` — build or maintain the
    * positional inverted index (operators/TermIndex) over a parquet
    * documents directory; `search -idx IDX -phrase "w1 w2[,w3 w4]"` serves
    * phrase queries from it (bucket-pruned scan). Matches print to stdout
    * (control-plane: one line per matching doc).
    */
  private def runIndex(spark: SparkSession, a: Args): Unit = {
    // the index build shuffles every posting of the input — size to it
    Session.sizeToInput(spark, Seq(a.required("in")))
    val docs = spark.read.parquet(a.required("in"))
    val out = a.required("out")
    if (a.bool("append") && !new java.io.File(out).isDirectory) {
      // appending into nothing = the initial build; a raw path-not-found
      // from the growth-report read would be the user's first clue otherwise
      System.err.println(s"[index] no index at $out — building instead")
      graft.operators.TermIndex.build(spark, docs, out)
    } else if (a.bool("append")) {
      val report = graft.operators.TermIndex.append(spark, out, docs)
      val grown = report.filter(
        org.apache.spark.sql.functions.col("n_added") > 0).count()
      System.err.println(s"[index] appended into $grown buckets")
    } else {
      graft.operators.TermIndex.build(spark, docs, out)
      System.err.println(s"[index] built $out")
    }
    if (a.bool("compact")) {
      val (before, after) = graft.operators.TermIndex.compact(spark, out)
      System.err.println(s"[index] compacted $before -> $after files")
    }
  }

  private def runSearch(spark: SparkSession, a: Args): Unit = {
    val phrases = a.required("phrase").split(",").map(_.trim).toSeq
    graft.operators.TermIndex.phraseSearch(spark, a.required("idx"), phrases)
      .collect()
      .foreach { r =>
        println(s"[search] ${r.getAs[String]("phrase")}: doc " +
          s"${r.getAs[Long]("doc_id")} x${r.getAs[Long]("n_matches")} " +
          s"first@${r.getAs[Long]("first_pos")}")
      }
  }

  private def runQueryCache(spark: SparkSession, a: Args): Unit = {
    val cachedir = a.required("cachedir")
    val seq = new StateStore(spark, cachedir).currentSeq
    require(seq >= 0, s"no committed state under $cachedir")
    val b = DiffPipeline.storedBundleAt(spark, cachedir, seq)
    def ids(flag: String): Seq[Long] =
      a.str(flag).toSeq.flatMap(_.split(",")).map(_.trim.toLong)
    val frames = Seq(
      ids("node").headOption.map(_ => CacheQuery.nodes(b, ids("node"))),
      ids("way").headOption.map(_ =>
        CacheQuery.ways(b, ids("way"), full = a.bool("full"))),
      ids("rel").headOption.map(_ => CacheQuery.relations(b, ids("rel"))),
      if (a.bool("deps") && ids("node").nonEmpty)
        Some(CacheQuery.waysForNodes(b, ids("node"))) else None,
      if (a.bool("deps") && ids("way").nonEmpty)
        Some(CacheQuery.relationsForWays(b, ids("way"))) else None
    ).flatten
    if (frames.isEmpty) fatal("query-cache: no ids given")
    // collect() is correct here: this is the debugging CLI printing a
    // handful of requested elements to stdout (the reference's query-cache
    // does the same, cache/query.go) — never a data path
    frames.foreach(_.toJSON.collect().foreach(println))
  }

  /** In-JVM entry: throws [[MainExit]] on usage errors. */
  def run(args: Array[String]): Unit = {
    if (args.isEmpty) usage()
    val a = parse(args.toSeq.drop(1))
    args(0) match {
      case "import"      => runImport(session(a), a)
      case "diff"        => runDiff(session(a), a)
      case "run"         => runReplication(session(a), a)
      case "query-cache" => runQueryCache(session(a), a)
      case "corpus"      => runCorpus(session(a), a)
      case "index"       => runIndex(session(a), a)
      case "search"      => runSearch(session(a), a)
      case "version"     => println("graft 0.5.0 (imposm3-compatible surface)")
      case other =>
        System.err.println(s"invalid command: '$other'"); usage()
    }
  }

  def main(args: Array[String]): Unit =
    try run(args) catch { case _: MainExit => sys.exit(1) }
}
