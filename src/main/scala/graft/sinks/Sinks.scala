package graft.sinks

import org.apache.spark.sql.DataFrame

import graft.mapping.{TableConf, TableType}
import graft.operators.GeohashSort

/** Output sinks (SURVEY.md §2 K1-K6).
  *
  * The reference's capability interfaces (database/database.go:21-75 —
  * Inserter/Deployer/Generalizer/Finisher/Deleter/Optimizer) reduce to one
  * Spark-side trait: write a named table frame. Implementations:
  *
  *  - [[ParquetSink]]: the engine-native bulk path (K1). `clustered = true`
  *    sorts by geohash before writing — the K5 `CLUSTER … ST_GeoHash`
  *    analog; at 100 TB this is also the spatial partitioning scheme.
  *  - [[JdbcSink]]: PostGIS output. DDL strings are generated exactly like
  *    the reference's TableSpec (spec.go:44-137, postgis.go:78-88) so a
  *    live PostGIS can be initialized + bulk-loaded via
  *    `df.write.jdbc` / COPY; no driver ships in this build, so this path
  *    stays DDL-generation + a thin writer.
  *  - [[NullSink]]: the reference's `/dev/null` driver
  *    (database/database.go:102-121) — full dataflow, discarded output
  *    (benchmark mode).
  */
trait Sink {
  def write(name: String, df: DataFrame): Unit
}

final class ParquetSink(baseDir: String, clustered: Boolean = false) extends Sink {
  override def write(name: String, df: DataFrame): Unit = {
    val out =
      if (clustered && df.columns.contains("geometry")) GeohashSort.clustered(df)
      else df
    out.write.mode("overwrite").parquet(s"$baseDir/$name")
  }
}

final class NullSink extends Sink {
  override def write(name: String, df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

final class JdbcSink(url: String, schema: String, prefix: String = "osm_",
    properties: java.util.Properties = new java.util.Properties()) extends Sink {
  override def write(name: String, df: DataFrame): Unit =
    df.write.mode("append").jdbc(url, s""""$schema"."$prefix$name"""", properties)
}

/** PostGIS DDL generation (TableSpec analog, spec.go:44-137). */
object PostgisDdl {

  /** pgTypes (database/postgis/columns.go:69-79) keyed by column type. */
  def pgType(colType: String): String = colType match {
    case "bool" => "BOOL"
    case "boolint" | "direction" => "SMALLINT"
    case "integer" | "wayzorder" | "zorder" | "enumerate" | "categorize_int" |
         "member_index" => "INT"
    case "id" | "member_id" => "BIGINT"
    case "member_type" => "SMALLINT"
    case "area" | "webmerc_area" | "pseudoarea" => "REAL"
    case "hstore_tags" => "HSTORE"
    case "geometry" | "validated_geometry" => "GEOMETRY"
    case "geojson_intersects" => "BOOL"
    case _ => "VARCHAR"
  }

  private def geometryType(t: TableConf): String =
    if (t.tableType == TableType.RelationMember) "geometry" else t.tableType

  /** CREATE TABLE with implicit `id BIGSERIAL` + composite PK unless the
    * mapping declares its own `id` column (spec.go:44-84). */
  def createTableSql(schema: String, prefix: String, t: TableConf): String = {
    val hasUserId = t.columns.exists(_.name == "id")
    val pkCols = t.columns.filter(_.colType == "id").map(_.name)
    val cols = Seq.newBuilder[String]
    if (!hasUserId) cols += "id BIGSERIAL"
    for (c <- t.columns if pgType(c.colType) != "GEOMETRY")
      cols += s""""${c.name}" ${pgType(c.colType)}"""
    if (!hasUserId)
      cols += (pkCols :+ "id").distinct
        .mkString("PRIMARY KEY (\"", "\", \"", "\")")
    s"""CREATE TABLE IF NOT EXISTS "$schema"."$prefix${t.name}" (
       |    ${cols.result().mkString(",\n    ")}
       |);""".stripMargin
  }

  /** AddGeometryColumn calls for every geometry column (postgis.go:78-88). */
  def addGeometryColumnSql(schema: String, prefix: String, t: TableConf,
      srid: Int): Seq[String] =
    t.columns.filter(c => pgType(c.colType) == "GEOMETRY").map { c =>
      s"SELECT AddGeometryColumn('$schema', '$prefix${t.name}', " +
        s"'${c.name}', '$srid', '${geometryType(t).toUpperCase}', 2);"
    }

  def copySql(schema: String, prefix: String, t: TableConf): String = {
    val cols = t.columns.map(c => s""""${c.name}"""").mkString(", ")
    s"""COPY "$schema"."$prefix${t.name}" ($cols) FROM STDIN"""
  }

  def deleteSql(schema: String, prefix: String, t: TableConf): String = {
    val idCol = t.columns.find(_.colType == "id")
      .getOrElse(throw new IllegalStateException(s"missing id column in ${t.name}"))
    s"""DELETE FROM "$schema"."$prefix${t.name}" WHERE "${idCol.name}" = $$1"""
  }

  /** Deferred index build (K4, postgis.go:165-234): GIST on geometry +
    * BTREE on the OSM id, built after the bulk load. */
  def indexSql(schema: String, prefix: String, t: TableConf): Seq[String] = {
    val full = s"$prefix${t.name}"
    val geomIdx = t.columns.filter(c => pgType(c.colType) == "GEOMETRY").map { c =>
      s"""CREATE INDEX "${full}_geom" ON "$schema"."$full" USING GIST ("${c.name}");"""
    }
    val idIdx = t.columns.filter(_.colType == "id").map { c =>
      s"""CREATE INDEX "${full}_${c.name}_idx" ON "$schema"."$full" ("${c.name}");"""
    }
    geomIdx ++ idIdx
  }
}
