package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BooleanType, StructType}

import graft.ImportPipeline
import graft.mapping.{CompiledMapping, TableConf, TableType}
import graft.model.{Ids, Kind, Op}
import graft.obs.Obs
import graft.operators.Generalize
import graft.sources.OsmXml
import graft.sources.OsmXml.Bundle

/** Incremental maintenance of the import output (SURVEY.md §2 ST1-ST6,
  * §3.2; reference update/process.go).
  *
  * State is *relational* — the four element frames plus every output and
  * generalized table, versioned in a [[StateStore]] — so a diff batch is a
  * plain dataflow, not per-key streaming state:
  *
  *  1. element tables: delete-then-insert by (kind, id) — always delete,
  *     even for Create (the reference's idempotency trick, ST2);
  *  2. dependency closure (J4): changed node → ways whose refs contain it,
  *     changed node/way → relations whose members reference them — the
  *     reference's DiffCache reverse indexes are the store's bucketed
  *     `wayrefs`/`relrefs` tables;
  *  3. rebuild: the same ImportPipeline runs over the closure subset
  *     (plus member ways needed for relation assembly) — batch and diff
  *     share one code path, like the reference shares its writer package;
  *  4. output tables: delete closure ids (mangled per table type), append
  *     the rebuilt delta; generalized tables refresh the same way from the
  *     delta (ST6);
  *  5. commit the new version (ST4) — crash-before-commit replays onto the
  *     previous committed version, which delete-then-insert makes safe;
  *     the commit also reclaims the versions nothing committed reads
  *     ([[StateStore.commit]]).
  *
  * Everything O(changed) lives on the driver, like the reference's keyed
  * cache reads (cache/delta.go:162-198): the change file is collected
  * once, the changed-id sets, the closure and the delete sets are Scala
  * sets, their buckets come from [[StateStore.bucketOfId]], and each
  * closure step is one bucket-pruned collect of the rows it needs. The
  * rebuild then runs over local relations (the closure's ways, relations,
  * coords and nodes), so a batch pays jobs for its store reads, the
  * rebuild stages and the segment writes, not for id sets.
  *
  * The apply runs on its own session, `graft.Session.applySession` of the
  * caller's, which evaluates every expression and plan interpreted. Its
  * O(changed) rows pass through ~200 distinct plans once each, so code
  * generation was most of its cost: on a 4-core VM a 150-change apply
  * compiled ~217 classes and spent 17–25 s of JIT CPU in 8–11 s of wall
  * time, against ~2.8 s of task time. Interpreted, it compiles ~24. Only
  * the apply does this; init, the bulk import and every read keep codegen
  * on the caller's session, whose conf the apply never writes.
  *
  * What this asks of a batch: its change file and its closure rows fit in
  * driver memory (O(changes + closure), never O(store)). The closure's
  * rows are collected and rebuilt into frames on the driver, and each
  * segment side is written by one task, so driver time grows with the
  * closure: on a 4-core VM against a 1.2M-element store a 10⁴-change file
  * applies in ~20 s and a 7.5×10⁴-change file in ~60 s (CHANGES.md).
  * Hourly and daily diffs are larger and unmeasured.
  */
object DiffPipeline {

  /** A table of element state: its rows in a bundle, the id column it is
    * bucketed by, the column its tombstones delete by, and the element
    * kind whose changes step it. */
  private final case class ElementTable(name: String, rows: Bundle => DataFrame,
      idCol: String, tombCol: String, kind: Byte)

  /** The four element tables and the reverse-reference indexes (the
    * reference's DiffCache, cache/diff.go). The indexes are BUCKETED BY THE
    * REFERENCED ID, so the dependency closure of a diff reads only the
    * changed ids' buckets instead of scanning every way/relation per batch
    * (O(changed), like the reference's LevelDB reverse entries), and
    * TOMBSTONED BY THE REFERRER: a changed way's old entries must vanish
    * whichever nodes they pointed at. */
  private val ElementTables = Seq(
    ElementTable("coords", _.coords, "id", "id", Kind.Node),
    ElementTable("nodes", _.nodes, "id", "id", Kind.Node),
    ElementTable("ways", _.ways, "id", "id", Kind.Way),
    ElementTable("relations", _.relations, "id", "id", Kind.Relation),
    ElementTable("wayrefs",
      _.ways.select(col("id").as("way_id"), explode(col("refs")).as("id")),
      "id", "way_id", Kind.Way),
    ElementTable("relrefs",
      _.relations.select(col("id").as("rel_id"), explode(col("members")).as("m"))
        .select(col("m.id").as("id"), col("m.type").as("ref_type"), col("rel_id")),
      "id", "rel_id", Kind.Relation))

  private def tbl(name: String): String = s"tbl_$name"

  /** Run independent writes concurrently, at most `par` at a time. A diff
    * batch touches every output table, and each bucketed-delta write is a
    * small Spark job — run sequentially, a minutely batch pays ~30 job
    * latencies end to end (measured 82 s for a ~900-node batch against a
    * 2M-element store; fixed scheduling overhead, not data). The writes
    * land in disjoint `<table>/v<seq>` dirs, so they compose like any
    * multi-sink drain. Returns only when every worker thread has ended;
    * after a task throws, no new task starts and the first error is
    * rethrown. The one drain helper: the import's stage waves and the
    * bench's table sinks use it too. */
  private[graft] def drainConcurrently(tasks: Seq[() => Unit], par: Int = 8): Unit = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    tasks.foreach(queue.add)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val workers = Seq.fill(math.min(par, tasks.size))(new Thread(() => {
      var task = queue.poll()
      while (task != null && errors.isEmpty) {
        try task() catch { case e: Throwable => errors.add(e) }
        task = queue.poll()
      }
    }, "graft-drain"))
    workers.foreach { w => w.setDaemon(true); w.start() }
    workers.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Run `body` as span `op` and print one JSON line on stderr: the store
    * version and the changed-element count `body` returns, and the span
    * with its phases, which are invisible from outside. */
  private def reported(op: String)(body: => (Long, Long)): Unit = {
    val ((version, changed), span) = Obs.measure(op)(body)
    System.err.println(s"""{"record":"diff.$op","version":$version,"changed":$changed,""" +
      s""""span":${span.json}}""")
  }

  /** Initial import: write element state + all output tables as v0, all
    * hash-bucketed by id so later diffs rewrite only touched buckets.
    * `nBuckets` is fixed for the store's life; size it so a bucket is
    * file-sized (a diff rewrites touched buckets WHOLE, so per-batch write
    * amplification is touched-buckets × bucket-size — at planet scale
    * ~64k buckets keeps that ∝ the change count, not the store size). */
  def init(spark: SparkSession, mapping: CompiledMapping, stateDir: String,
      bundle: Bundle, srid: Int = 3857, nBuckets: Int = 1024,
      limit: Option[graft.operators.Limitto] = None,
      startSeq: Long = 0,
      assembler: (DataFrame, DataFrame) => DataFrame =
        graft.operators.WayAssembly.resolve): Map[String, DataFrame] = {
    reported("init") {
      val store = new StateStore(spark, stateDir)
      store.setHashBuckets(nBuckets)
      // startSeq > 0 re-inits on top of an existing store (`-appendcache`):
      // writing a NEW version while the merged bundle lazily reads the old
      // one keeps the read and write paths disjoint.
      // All four element writes read the one cached raw-element frame, so
      // they drain concurrently without duplicating the parse
      val (_, writes) = Obs.measure("element-writes")(drainConcurrently(ElementTables.map(t =>
        () => Obs.span(t.name)(store.writeBucketed(t.name, startSeq, t.rows(bundle), t.idCol)))))
      val pipeline = new ImportPipeline(spark, mapping, srid, limit,
        assembler = assembler)
      val outputs = Obs.span("stages") {
        val tables = pipeline.run(storedBundle(store, startSeq))
        val gens = Generalize(spark, mapping, tables)
        // force the shared stage caches once, then drain the ~30 output-table
        // writes concurrently (same reasoning as applyDiff's drain: each write
        // is a small job and sequential writes pay one job latency per table)
        pipeline.materializeStages()
        tables ++ gens
      }
      Obs.span("table-writes")(drainConcurrently(outputs.toSeq.map { case (n, df) =>
        () => store.writeBucketed(tbl(n), startSeq, df, idColFor(mapping, n))
      }))
      pipeline.unpersistAll()
      Obs.span("commit")(store.commit(startSeq))
      // the elements: every coord (tagged nodes among them), way and relation
      (startSeq, Seq("coords", "ways", "relations").flatMap(writes.find).map(_.outputRows).sum)
    }
    readTables(spark, mapping, stateDir)
  }

  /** Current committed output tables (base + generalized). The ~33
    * per-table merged views are built CONCURRENTLY: view construction is
    * driver/file-system bound (manifest read + eager file-index listing
    * over every bucket dir), and serially it measured ~7 s per read of
    * the tables. */
  def readTables(spark: SparkSession, mapping: CompiledMapping,
      stateDir: String): Map[String, DataFrame] = {
    val store = new StateStore(spark, stateDir)
    val seq = store.currentSeq
    val names = mapping.conf.tables.keys.toSeq ++ mapping.conf.generalizedTables.keys.toSeq
    val out = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    drainConcurrently(names.map(n =>
      () => { out.put(n, store.read(tbl(n), seq)); () }))
    names.map(n => n -> out.get(n)).toMap
  }

  /** The element tables of a committed state version — the `-appendcache`
    * read side (import_/import.go:84-101 appends onto the open cache). */
  def storedBundleAt(spark: SparkSession, stateDir: String, seq: Long): Bundle =
    storedBundle(new StateStore(spark, stateDir), seq)

  private def storedBundle(store: StateStore, seq: Long): Bundle =
    Bundle(
      coords = store.read("coords", seq),
      nodes = store.read("nodes", seq),
      ways = store.read("ways", seq),
      relations = store.read("relations", seq))

  /** Apply one change file (one transaction, ST1). `diff` carries
    * RawElement rows with `op`; the last op per element wins is assumed
    * upstream (minutely OSC files are deduplicated by osmosis). Returns
    * nothing: a caller that wants the maintained tables reads them with
    * [[readTables]] (building the ~30 views costs 1–2 s, which a caller
    * applying file after file would throw away).
    *
    * `from` applies on top of a specific (possibly uncommitted) state
    * version instead of the committed pointer; paired with
    * `commit = false` it gives the reference's `-commit-latest` batch
    * mode (update/cmd.go:96-134): apply N diffs version-by-version, then
    * advance the pointer once at the end — a crash mid-batch replays the
    * whole batch because the pointer never moved. A commit also runs the
    * store's retention ([[StateStore.commit]]), as the span's `commit`
    * phase.
    */
  def applyDiff(spark: SparkSession, mapping: CompiledMapping, stateDir: String,
      diff: DataFrame, srid: Int = 3857,
      expireDir: Option[String] = None,
      expireZoom: Int = graft.operators.ExpireTiles.DefaultZoom,
      from: Option[Long] = None,
      commit: Boolean = true): Unit = reported("apply") {
    // every frame below is built on the interpreted apply session; the
    // caller's session only gathers its own change frame (see the header)
    val session = graft.Session.applySession(spark)
    val store = new StateStore(session, stateDir)
    val seq = from.getOrElse(store.currentSeq)
    require(seq >= 0, s"no committed state in $stateDir — run init first")
    val next = seq + 1

    import session.implicits._
    // the change file, gathered to the driver once; every frame built from
    // it or from an id set is a local relation (see the header)
    def local(schema: StructType, rows: Array[Row]): DataFrame =
      session.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def idOf(r: Row): Long = r.getAs[Long]("id")
    val changes = diff.collect()
    val d = local(diff.schema, changes)
    def changed(kind: Byte): Set[Long] = changes.iterator
      .filter(_.getAs[Byte]("kind") == kind).map(idOf).toSet
    val chN = changed(Kind.Node)
    val chW = changed(Kind.Way)
    val chR = changed(Kind.Relation)
    val changedOf = Map(Kind.Node -> chN, Kind.Way -> chW, Kind.Relation -> chR)
    def ids(s: Set[Long], name: String = "id"): DataFrame = s.toSeq.toDF(name)

    // the batch's insert rows per element table (always delete, even for
    // Create — the reference's idempotency trick, ST2)
    val ins = OsmXml.bundleOf(d.filter(col("op") =!= Op.Delete))

    // -- 1. element tables: delete-then-insert as a merge-on-read SEGMENT ----
    // write ONLY the batch's insert rows + delete-id tombstones; the store
    // folds segments newest-wins at read time, so the version step's write
    // volume is the batch itself, never a bucket rewrite. A kind with ZERO
    // changes steps its element/reverse-index tables with writeUnchanged —
    // no empty segments, no write jobs, no fold growth, no compaction drag
    // for tables a batch never touched (r13, §2.4).
    val elementWrites = ElementTables.map { t =>
      val changed = changedOf(t.kind)
      () => Obs.span(t.name)(
        if (changed.isEmpty) store.writeUnchanged(t.name, next, seq)
        else store.writeDelta(t.name, next, seq, t.rows(ins), ids(changed, t.tombCol), t.idCol,
          tombstoneCol = Some(t.tombCol)))
    }

    // -- 2. dependency closure (J4) via the reverse indexes --------------------
    // Every step reads ONLY the buckets of its ids and collects the
    // matching rows: O(changed) per batch, the reference's LevelDB reverse
    // entries (cache/diff.go) and keyed element reads (cache/delta.go). An
    // empty id set reads nothing. The steps read the PREVIOUS version and
    // take this batch's own rows for the ids it changed — exactly the new
    // version, so the closure needs none of the element writes and runs
    // beside them.
    def read(table: String, want: Set[Long], keep: Column): (Array[Row], StructType) = {
      val df = store.readBuckets(table, seq, want.map(store.bucketOfId))
      (if (want.isEmpty) Array.empty[Row] else df.filter(keep).collect(), df.schema)
    }
    def byId(want: Set[Long]): Column = isIn(col("id"), want)
    // rows of an element table with an id in `want`, as of the new version
    // (the batch's insert frames are local relations: collected without a job)
    def fetch(table: String, inserted: DataFrame, want: Set[Long],
        changedIds: Set[Long]): (Array[Row], DataFrame) = {
      val (prev, schema) = read(table, want -- changedIds, byId(want -- changedIds))
      val rows = if (want.isEmpty) prev
        else prev ++ inserted.collect().filter(r => want(idOf(r)))
      (rows, local(schema, rows))
    }
    def memberIds(rels: Array[Row], mtype: Int): Set[Long] = rels.iterator
      .flatMap(_.getAs[collection.Seq[Row]]("members"))
      .filter(_.getAs[Number]("type").intValue == mtype).map(idOf).toSet
    def closure(): (Set[Long], Set[Long], Bundle, Bundle) = {
      // a changed way's or relation's own reverse entries can only name
      // itself, so the previous version's entries, joined with the changed
      // sets, are the new version's
      val depW = chW ++ read("wayrefs", chN, byId(chN))._1.map(_.getAs[Long]("way_id"))
      val depR = chR ++ read("relrefs", chN ++ depW,
        (col("ref_type") === 0 && byId(chN)) || (col("ref_type") === 1 && byId(depW))
      )._1.map(_.getAs[Long]("rel_id"))
      // the rebuild's rows: driver relations, their member ways plus the
      // dependent ways, then the coords and nodes those reference
      val (relRows, driverRels) = fetch("relations", ins.relations, depR, chR)
      val rebuildW = depW ++ memberIds(relRows, 1)
      val (wayRows, waysR) = fetch("ways", ins.ways, rebuildW, chW)
      val coordIds = wayRows.iterator.flatMap(_.getAs[collection.Seq[Long]]("refs")).toSet ++
        memberIds(relRows, 0)
      val (coordRows, coords) = fetch("coords", ins.coords, coordIds, chN)
      val (nodeRows, nodes) = fetch("nodes", ins.nodes, coordIds ++ chN, chN)
      // coords touched by THIS batch resolve at full precision (reference
      // LRU-bunch artifact — see ImportPipeline.projectXY)
      val freshCoords = local(coords.schema.add("fresh", BooleanType, nullable = false),
        coordRows.map(r => Row.fromSeq(r.toSeq :+ chN(idOf(r)))))
      def nodesIn(want: Set[Long]): DataFrame =
        local(nodes.schema, nodeRows.filter(r => want(idOf(r))))
      // member-tag resolution sees every node and relation a rebuilt
      // relation's members name, changed in this batch or not (reference
      // writer/relations.go:216-251 resolves from the whole cache)
      val resolve = Bundle(coords = freshCoords, nodes = nodesIn(coordIds), ways = waysR,
        relations = fetch("relations", ins.relations, memberIds(relRows, 2), chR)._2)
      (rebuildW, depR, Bundle(coords = freshCoords, nodes = nodesIn(chN),
        ways = waysR, relations = driverRels), resolve)
    }

    // -- 3. rebuild the closure through the shared import pipeline ------------
    // -- 4. output tables: delete mangled closure ids, append delta -----------
    // Each output-table version is likewise a SEGMENT: tombstones = the
    // mangled closure ids, inserts = the rebuilt delta (a subset of the
    // tombstoned ids by construction — rows are driven by the closure), so
    // a table whose delete set is empty steps with writeUnchanged. Output
    // tables are disjoint from the element tables, so this runs beside the
    // element writes too; the version commits once both are done. The
    // expire side output is one more task of the output-write drain.
    def rebuild(): Unit = {
      val (rebuildW, depR, bundle, resolve) = Obs.span("closure")(closure())
      val single = mapping.conf.singleIdSpace
      val wDel = rebuildW.map(Ids.wayId(_, single))
      val rDel = depR.map(Ids.relId(_, single))
      def deleteIdsFor(tableType: String): Set[Long] = tableType match {
        case TableType.Point => chN
        case TableType.LineString | TableType.Polygon => wDel ++ rDel
        case TableType.Geometry => chN ++ wDel ++ rDel
        case TableType.Relation | TableType.RelationMember => rDel
        case other => throw new IllegalArgumentException(other)
      }
      val pipeline = new ImportPipeline(session, mapping, srid)
      val delta = Obs.span("rebuild-stages") {
        val delta = pipeline.run(bundle, resolve = Some(resolve))
        // force the shared rebuild caches ONCE, so the concurrent table
        // writes below only consume them and never duplicate the work
        pipeline.materializeStages()
        delta
      }
      val writes = (delta ++ Generalize(session, mapping, delta)).toSeq.map {
        case (name, rows) =>
          val idc = idColFor(mapping, name)
          val del = deleteIdsFor(confOf(mapping, name).tableType)
          () =>
            if (del.isEmpty) store.writeUnchanged(tbl(name), next, seq)
            else store.writeDelta(tbl(name), next, seq, rows, ids(del, idc), idc)
      }

      // ST5: expire-tiles side output — every geometry touched by this
      // batch: the OLD geometries of replaced/deleted rows (the reference
      // expires via its deleter, update/deleter.go) plus the rebuilt ones.
      // It reads only the previous version and the filled stage caches, so
      // it drains beside the writes; queued first, as its longest task.
      val expire = expireDir.map(dir => () => Obs.span("expire") {
        val geoms = for {
          (name, t) <- mapping.conf.tables.toSeq
          if t.tableType != TableType.Relation && t.tableType != TableType.RelationMember
          gc <- geomColName(t).toSeq
          del = deleteIdsFor(t.tableType)
          if del.nonEmpty
          g <- Seq(
            store.readBuckets(tbl(name), seq, del.map(store.bucketOfId))
              .filter(isIn(col(idColName(t)), del)),
            delta(name))
        } yield g.select(col(gc).as("geometry"))
        if (geoms.nonEmpty) {
          val tiles = graft.operators.ExpireTiles.expire(
            geoms.reduce(_ unionByName _).filter(col("geometry").isNotNull),
            maxZoom = expireZoom)
          graft.operators.ExpireTiles.writeTiles(tiles, s"$dir/$next")
        }
      })
      Obs.span("output-writes")(drainConcurrently(expire.toSeq ++ writes))
      pipeline.unpersistAll()
    }

    drainConcurrently(Seq(
      () => Obs.span("element-writes")(drainConcurrently(elementWrites)),
      () => rebuild()))
    if (commit) Obs.span("commit")(store.commit(next))
    (next, changes.length.toLong)
  }

  /** `c` is in the driver-side id set `want`. A UDF, not a literal IN
    * list: Spark pushes an IN list into every Parquet file's reader,
    * serializing the whole set per file (seconds per read at 10⁴ ids over
    * 256 buckets), while the UDF's set ships once, in the stage's task
    * binary. Bucket pruning already narrows the files. */
  private def isIn(c: Column, want: Set[Long]): Column =
    udf((id: Long) => want(id)).apply(c)

  // id/geometry columns are whatever the mapping names them (colType is
  // the authority, not the default "osm_id"/"geometry" spellings)
  private def idColName(t: TableConf): String =
    t.columns.find(_.colType == "id").map(_.name).getOrElse("osm_id")

  private def geomColName(t: TableConf): Option[String] =
    t.columns.find(c =>
      c.colType == "geometry" || c.colType == "validated_geometry").map(_.name)

  /** The conf of a base table, or of a generalized table's root source
    * table (generalized tables inherit its columns). */
  private def confOf(mapping: CompiledMapping, name: String): TableConf =
    mapping.conf.tables.getOrElse(name, rootConf(mapping, name))

  private def idColFor(mapping: CompiledMapping, name: String): String =
    idColName(confOf(mapping, name))

  private def rootConf(mapping: CompiledMapping, source: String): TableConf = {
    var src = source
    while (mapping.conf.generalizedTables.contains(src))
      src = mapping.conf.generalizedTables(src).source
    mapping.conf.tables(src)
  }

  /** Continuous mode (§3.2 `imposm run`): every .osc(.gz) landing in
    * `replicationDir` is applied as its own transaction, in path order —
    * replication sequence numbers sort lexicographically within a cycle
    * dir. Structured Streaming's file source + checkpoint provides
    * exactly-once discovery; StateStore commit provides idempotent apply.
    */
  def runStream(spark: SparkSession, mapping: CompiledMapping, stateDir: String,
      replicationDir: String, checkpointDir: String,
      srid: Int = 3857, expireDir: Option[String] = None,
      expireZoom: Int = graft.operators.ExpireTiles.DefaultZoom,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    // maxFilesPerTrigger caps each micro-batch (AvailableNow honors it).
    // ORDERING: within a micro-batch files apply in sequence order (parsed
    // from the filename), but ACROSS micro-batches Spark's file source
    // orders by modification time. Live replication satisfies that (files
    // land one per minute); a backlog whose mtimes don't follow sequence
    // order either runs uncapped (one sequence-sorted batch) or FAILS
    // LOUDLY — applyBatchFiles tracks the last applied sequence in the
    // store and aborts on regression (the reference's last.state.txt gate,
    // update/cmd.go:231-257) instead of silently corrupting state.
    val src = spark.readStream
      .format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"))
      .option("pathGlobFilter", "*.osc*")
    maxFilesPerTrigger.foreach(n => src.option("maxFilesPerTrigger", n))
    src.load(replicationDir)
      .select("path")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // no pre-sort: applyBatchFiles orders by parsed sequence itself
        val files = batch.select("path").collect().map(_.getString(0)).toSeq
        applyBatchFiles(spark, mapping, stateDir, files, srid,
          expireDir, expireZoom, batchId = Some(batchId))
      }
      .start()
  }

  /** Replication sequence parsed from a change-file path: the basename
    * (minus `.osc`/`.osc.gz`) must be ALL digits — the convention every
    * replication layout here uses (Replication.download writes
    * `%09d.osc.gz`). None otherwise. Deliberately strict: a trailing-digit
    * parse would read `hotfix-v2.osc` as sequence 2 and wedge a live
    * stream at sequence 50000 in a crash-restart loop; a manually named
    * file must hit the documented exemption instead. */
  private[streaming] def fileSeq(path: String): Option[Long] = {
    val base = new org.apache.hadoop.fs.Path(path).getName
      .stripSuffix(".gz").stripSuffix(".osc")
    if (base.nonEmpty && base.forall(_.isDigit)) base.toLongOption else None
  }

  /** The body of one [[runStream]] micro-batch: apply each change file as
    * its own committed transaction (sequence order); each commit runs the
    * store's retention. Split out so the long-stream soak (Bench /
    * RunStreamSpec) drives the exact production path — apply, compaction
    * and retention — without a streaming source in the loop.
    *
    * Sequence-order gate (r10 verdict #3): with `maxFilesPerTrigger` set,
    * cross-batch delivery order is file MTIME — replaying a backlog with
    * non-monotonic mtimes would silently apply diffs out of order. The
    * store tracks the last applied sequence (parsed from the filename) in
    * its `replseq.txt` pointer, written after each file's commit; a file
    * whose sequence regresses below it ABORTS the batch with a
    * clear error — the reference's last.state.txt gate
    * (update/cmd.go:231-257). Skipping instead would LOSE the diff: the
    * stream checkpoint never re-delivers a file, so a regressed sequence
    * here is a never-applied straggler, not a duplicate. The one sanctioned
    * re-delivery — the same micro-batch replayed after a crash (same
    * `batchId` AND same first file: a rebuilt checkpoint restarts
    * batchIds at 0, so replay identity needs the batch's composition
    * too) — rolls the baseline back to the pre-batch sequence and
    * re-applies idempotently (ST2). Files with no parseable sequence are
    * exempt (manually named change files).
    */
  def applyBatchFiles(spark: SparkSession, mapping: CompiledMapping,
      stateDir: String, files: Seq[String], srid: Int = 3857,
      expireDir: Option[String] = None,
      expireZoom: Int = graft.operators.ExpireTiles.DefaultZoom,
      batchId: Option[Long] = None): Unit = {
    val store = new StateStore(spark, stateDir)
    // sequence order within the batch; path order breaks ties and orders
    // sequence-less names (zero-padded names make the two identical)
    val ordered = files.sortBy(p => (fileSeq(p).getOrElse(Long.MaxValue), p))
    val firstName = ordered.headOption
      .map(new org.apache.hadoop.fs.Path(_).getName).getOrElse("-")
    val prev = store.readReplSeq
    val seqBefore = prev match {
      case Some((_, bid, before, first))
        if batchId.contains(bid) && first == firstName => before // replay
      case Some((last, _, _, _)) => last
      case None => Long.MinValue
    }
    var baseline = seqBefore
    var last = math.max(prev.map(_._1).getOrElse(Long.MinValue), seqBefore)
    ordered.foreach { p =>
      val s = fileSeq(p)
      s.foreach { sq =>
        if (sq <= baseline) throw new IllegalStateException(
          s"out-of-order replication file $p: sequence $sq <= last applied " +
            s"$baseline. With maxFilesPerTrigger set, micro-batches are " +
            "delivered in file-mtime order; replay backlogs whose mtimes " +
            "don't follow sequence order uncapped (one sequence-sorted " +
            "batch), or delete replseq.txt in the state dir to force.")
      }
      applyDiff(spark, mapping, stateDir, OsmXml.readDiff(spark, p).toDF(), srid,
        expireDir = expireDir, expireZoom = expireZoom)
      s.foreach { sq =>
        baseline = sq
        last = math.max(last, sq)
        store.writeReplSeq(last, batchId.getOrElse(-1L), seqBefore, firstName)
      }
    }
  }
}
