package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.GraftColumnBridge.{AttrView, FnView, LitView, NodeView}
import org.apache.spark.sql.types.{DataType, StructField, StructType, TimestampNTZType, TimestampType}

/** File-level data skipping — the Delta stats protocol (`add.stats` JSON
  * with `numRecords` / `minValues` / `maxValues` / `nullCount`) plus the
  * pruning rewrite that turns a row predicate into a can-this-FILE-match
  * predicate over those stats.
  *
  * This is the scan-side half of what makes a 100 TB table queryable: a
  * point or range predicate on a clustered column should open the files
  * whose [min,max] intersect it, not all of them. Pruning is SAFE, never
  * exact — a file that cannot be excluded is scanned, and the original
  * predicate still runs over every row that survives, so a translation
  * gap costs I/O, never correctness. Missing stats (hand-written logs,
  * unsupported types) fall back to "might match".
  *
  * Stats are harvested from the parquet FOOTERS after the distributed
  * write lands (driver-side, O(files) footer reads — the write itself
  * stays distributed; production writers fold this into the write task,
  * the protocol output is identical).
  */
object DataSkipping {

  private val mapper = new ObjectMapper()

  /** Delta `add.stats` JSON for one parquet file, from its footer.
    * Min/max recorded for top-level int32/int64/float/double and UTF8
    * binary columns, and for INT64 `TIMESTAMP(MILLIS|MICROS)` columns in
    * the protocol's JSON form at millisecond precision, floored
    * (`2024-01-02T03:04:05.678Z` when adjusted to UTC, no zone suffix for
    * timestamp_ntz) — [[canMatch]] widens the maxima back by 1 ms. Other
    * time types (nanos, INT96, TIME) record no range. */
  def statsJson(conf: Configuration, file: Path): Option[String] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter.getBlocks
      var numRecords = 0L
      val mins = mapper.createObjectNode()
      val maxs = mapper.createObjectNode()
      val nulls = mapper.createObjectNode()
      val seen = scala.collection.mutable.LinkedHashMap[
        String, (Option[Any], Option[Any], Long, Boolean)]()
      // timestamp columns: raw INT64 values merge as longs, render last
      val timestamps = scala.collection.mutable.Map[String, Long => String]()
      footer.forEach { block =>
        numRecords += block.getRowCount
        block.getColumns.forEach { c =>
          if (c.getPath.size() == 1) {
            val name = c.getPath.toDotString
            val st = c.getStatistics
            val prim = c.getPrimitiveType
            val logical = prim.getLogicalTypeAnnotation
            val isString = prim.getPrimitiveTypeName == BINARY &&
              logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            val isTimestampish =
              logical.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] ||
              logical.isInstanceOf[LogicalTypeAnnotation.TimeLogicalTypeAnnotation]
            logical match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if prim.getPrimitiveTypeName == INT64 &&
                    t.getUnit != LogicalTypeAnnotation.TimeUnit.NANOS =>
                timestamps(name) = timestampJson(t)
              case _ =>
            }
            val supported = timestamps.contains(name) ||
              (!isTimestampish && (isString || (prim.getPrimitiveTypeName match {
                case INT32 | INT64 | FLOAT | DOUBLE => true
                case _ => false
              })))
            val (mn, mx): (Option[Any], Option[Any]) =
              if (supported && st != null && st.hasNonNullValue)
                (Some(genericValue(st.genericGetMin, isString)),
                  Some(genericValue(st.genericGetMax, isString)))
              else (None, None)
            val nc = if (st != null && st.isNumNullsSet) st.getNumNulls else -1L
            seen.get(name) match {
              case None => seen(name) = (mn, mx, nc, supported)
              case Some((pm, px, pn, ps)) =>
                seen(name) = (
                  merge(pm, mn, isMin = true), merge(px, mx, isMin = false),
                  if (pn < 0 || nc < 0) -1L else pn + nc, ps && supported)
            }
          }
        }
      }
      seen.foreach { case (name, (mn, mx, nc, supported)) =>
        if (supported) {
          val render: Any => Any = timestamps.get(name) match {
            case Some(f) => { case l: java.lang.Long => f(l.longValue()); case v => v }
            case None => identity
          }
          mn.foreach(v => putValue(mins, name, render(v)))
          mx.foreach(v => putValue(maxs, name, render(v)))
        }
        if (nc >= 0) nulls.put(name, nc)
      }
      val root = mapper.createObjectNode()
      root.put("numRecords", numRecords)
      root.set[com.fasterxml.jackson.databind.node.ObjectNode]("minValues", mins)
      root.set[com.fasterxml.jackson.databind.node.ObjectNode]("maxValues", maxs)
      root.set[com.fasterxml.jackson.databind.node.ObjectNode]("nullCount", nulls)
      Some(mapper.writeValueAsString(root))
    } catch {
      case _: Exception => None // stats are an optimization, never a failure
    } finally reader.close()
  }

  /** A raw INT64 timestamp of `t`'s unit as the protocol's JSON string,
    * floored to the millisecond. */
  private def timestampJson(
      t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation): Long => String = {
    val perMilli = if (t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS) 1000L else 1L
    val fmt = java.time.format.DateTimeFormatter.ofPattern(
      if (t.isAdjustedToUTC) "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
      else "yyyy-MM-dd'T'HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
    v => fmt.format(java.time.Instant.ofEpochMilli(Math.floorDiv(v, perMilli)))
  }

  private def genericValue(v: Any, isString: Boolean): Any = v match {
    case b: org.apache.parquet.io.api.Binary if isString => b.toStringUsingUTF8
    case other => other
  }

  private def merge(a: Option[Any], b: Option[Any], isMin: Boolean): Option[Any] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(cmp(x, y, isMin))
      case _ => None // a row group without stats poisons the file's min/max
    }

  private def cmp(x: Any, y: Any, isMin: Boolean): Any = (x, y) match {
    // integral pairs compare as longs: doubleValue collapses distinct
    // BIGINTs beyond 2^53, and a wrong recorded min/max makes pruning
    // skip a file that holds matching rows — silent data loss, not a
    // missed optimization
    case (a: java.lang.Long, b: java.lang.Long) =>
      if ((a.longValue() <= b.longValue()) == isMin) x else y
    case (a: java.lang.Integer, b: java.lang.Integer) =>
      if ((a.intValue() <= b.intValue()) == isMin) x else y
    case (a: Number, b: Number) =>
      val (da, db) = (a.doubleValue(), b.doubleValue())
      if ((da <= db) == isMin) x else y
    case (a: String, b: String) => if ((a <= b) == isMin) x else y
    case _ => x
  }

  private def putValue(node: com.fasterxml.jackson.databind.node.ObjectNode,
      name: String, v: Any): Unit = v match {
    case i: java.lang.Integer => node.put(name, i.intValue())
    case l: java.lang.Long => node.put(name, l.longValue())
    case f: java.lang.Float => node.put(name, f.floatValue())
    case d: java.lang.Double => node.put(name, d.doubleValue())
    case s: String => node.put(name, s)
    case _ =>
  }

  /** Fold a file's hive-style partition values into its stats JSON as
    * point ranges (min = max = value), so partition predicates prune
    * through the same [[canMatch]] rewrite as data-column ranges — a
    * `region='eu'` filter then drops every other partition's files
    * DRIVER-side, before the scan is even planned. Values are typed from
    * the table schema (numbers unquoted, strings quoted) because
    * `from_json` null-swallows mistyped tokens, which would silently
    * disable pruning. Unsupported types and the hive null sentinel just
    * contribute no range (never wrong, only unpruned). Returns None only
    * when there is nothing at all to skip on. */
  def withPartitionValues(statsJson: Option[String], relPath: String,
      schema: StructType, partCols: Seq[String]): Option[String] = {
    val segs = relPath.split("/").dropRight(1).flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8"))
      case _ => None
    }).filter { case (k, v) =>
      partCols.contains(k) && v != "__HIVE_DEFAULT_PARTITION__"
    }
    if (segs.isEmpty) return statsJson
    val root = statsJson.map(mapper.readTree(_)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse {
        val r = mapper.createObjectNode()
        r.set[com.fasterxml.jackson.databind.node.ObjectNode](
          "minValues", mapper.createObjectNode())
        r.set[com.fasterxml.jackson.databind.node.ObjectNode](
          "maxValues", mapper.createObjectNode())
        r
      }
    def obj(name: String) = {
      val n = root.get(name)
      if (n != null && n.isObject)
        n.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else {
        val o = mapper.createObjectNode()
        root.set[com.fasterxml.jackson.databind.node.ObjectNode](name, o); o
      }
    }
    val (mins, maxs) = (obj("minValues"), obj("maxValues"))
    segs.foreach { case (k, v) =>
      try schema.fields.find(_.name == k).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.IntegerType) =>
          mins.put(k, v.toInt); maxs.put(k, v.toInt)
        case Some(org.apache.spark.sql.types.LongType) =>
          mins.put(k, v.toLong); maxs.put(k, v.toLong)
        case Some(org.apache.spark.sql.types.FloatType) =>
          mins.put(k, v.toFloat); maxs.put(k, v.toFloat)
        case Some(org.apache.spark.sql.types.DoubleType) =>
          mins.put(k, v.toDouble); maxs.put(k, v.toDouble)
        case Some(org.apache.spark.sql.types.StringType) =>
          mins.put(k, v); maxs.put(k, v)
        case _ =>
      } catch { case _: NumberFormatException => } // malformed dir: no range
    }
    Some(mapper.writeValueAsString(root))
  }

  /** Spark schema for parsing `add.stats` of a table with `dataSchema`. */
  def statsSchema(dataSchema: StructType): StructType = {
    val valueStruct = StructType(dataSchema.fields.map(f =>
      StructField(f.name, f.dataType)))
    StructType(Seq(
      StructField("numRecords", org.apache.spark.sql.types.LongType),
      StructField("minValues", valueStruct),
      StructField("maxValues", valueStruct),
      StructField("nullCount", StructType(dataSchema.fields.map(f =>
        StructField(f.name, org.apache.spark.sql.types.LongType))))))
  }

  /** Rewrite a row predicate into a may-this-file-match predicate over a
    * parsed stats struct column `s`. Conservative: any unsupported
    * subtree (or missing stat, via coalesce) becomes TRUE. Only columns
    * of `schema` (the stats schema's columns) get ranges — an attribute
    * outside it must fall back to "might match", not throw on a
    * nonexistent `s.minValues.<col>` reference. Partition columns
    * participate via [[withPartitionValues]]' point ranges.
    *
    * Timestamp maxima are widened by 1 ms: Delta writers (delta-spark
    * among them, and [[statsJson]] here) record timestamp stats at
    * millisecond precision, truncated, so a row at `….123456` sits in a
    * file whose max reads `….123` — taken as exact, `ts >= '….1234'`
    * would skip that file and lose the row. Minima are truncated
    * downwards and stay safe as they are.
    *
    * Operates on the bridge's neutral view of the Column node tree
    * (Spark 4's Connect-unified Column has no public `.expr`). */
  def canMatch(condition: Column, schema: StructType): Column =
    translate(GraftColumnBridge.view(condition),
      schema.fields.map(f => f.name -> f.dataType).toMap)

  private type StatCols = Map[String, DataType]

  private def translate(e: NodeView, statCols: StatCols): Column = e match {
    case FnView("and", Seq(l, r)) => translate(l, statCols) && translate(r, statCols)
    case FnView("or", Seq(l, r)) => translate(l, statCols) || translate(r, statCols)
    case FnView("=" | "==" | "equal_to", Seq(a, b)) =>
      (a, b) match {
        case (AttrView(n), LitView(v)) if statCols.contains(n) => rangeContains(n, v, statCols)
        case (LitView(v), AttrView(n)) if statCols.contains(n) => rangeContains(n, v, statCols)
        case _ => lit(true)
      }
    case FnView("<", Seq(a, b)) => cmpNode(a, b, strict = true, attrOnLeftUsesMin = true, statCols)
    case FnView("<=", Seq(a, b)) => cmpNode(a, b, strict = false, attrOnLeftUsesMin = true, statCols)
    case FnView(">", Seq(a, b)) => cmpNode(a, b, strict = true, attrOnLeftUsesMin = false, statCols)
    case FnView(">=", Seq(a, b)) => cmpNode(a, b, strict = false, attrOnLeftUsesMin = false, statCols)
    case FnView("in", AttrView(n) +: vs)
        if statCols.contains(n) && vs.forall(_.isInstanceOf[LitView]) =>
      vs.collect { case LitView(v) => rangeContains(n, v, statCols) }
        .reduceOption(_ || _).getOrElse(lit(true))
    case FnView("isnull", Seq(AttrView(n))) if statCols.contains(n) =>
      safe(col(s"s.nullCount.`$n`") > 0)
    case _ => lit(true)
  }

  /** attr OP lit (or lit OP attr, mirrored): `<`-family checks the file
    * minimum, `>`-family the maximum. */
  private def cmpNode(a: NodeView, b: NodeView,
      strict: Boolean, attrOnLeftUsesMin: Boolean, statCols: StatCols): Column =
    (a, b) match {
      case (AttrView(n), LitView(v)) if statCols.contains(n) =>
        bound(n, v, useMin = attrOnLeftUsesMin, strict, statCols)
      case (LitView(v), AttrView(n)) if statCols.contains(n) =>
        bound(n, v, useMin = !attrOnLeftUsesMin, strict, statCols)
      case _ => lit(true)
    }

  private def bound(n: String, v: Any, useMin: Boolean, strict: Boolean,
      statCols: StatCols): Column = {
    val c = if (useMin) minCol(n) else maxCol(n, statCols)
    val l = litOf(v)
    safe(
      if (useMin) { if (strict) c < l else c <= l }
      else { if (strict) c > l else c >= l })
  }

  private def litOf(v: Any): Column =
    GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal(v))

  private def minCol(n: String): Column = col(s"s.minValues.`$n`")

  /** The file maximum of `n`; timestamp maxima widened by 1 ms (see
    * [[canMatch]]). */
  private def maxCol(n: String, statCols: StatCols): Column = {
    val c = col(s"s.maxValues.`$n`")
    statCols(n) match {
      case TimestampType | TimestampNTZType => c + lit(java.time.Duration.ofMillis(1))
      case _ => c
    }
  }

  private def rangeContains(n: String, v: Any, statCols: StatCols): Column =
    safe(minCol(n) <= litOf(v) && maxCol(n, statCols) >= litOf(v))

  /** NULL stat (absent min/max) must mean "might match", not "skip". */
  private def safe(c: Column): Column = coalesce(c, lit(true))
}
