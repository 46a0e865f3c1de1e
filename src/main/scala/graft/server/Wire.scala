package graft.server

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api._
import graft.sources.Sources

import scala.jdk.CollectionConverters._

/** Wire codec for the reference's HTTP JSON protocol
  * (reference: src/api.rs:38-61 request/response shapes;
  * client.py:200-245 is the canonical client encoding).
  *
  * The protocol is serde's externally-tagged JSON for the reference
  * enums:
  *
  *   request   {"dataframe": <state|null>, "function": <fn>}
  *   fn        {"Read": ["csv", path, schema]} | {"Op": <op>}
  *             | {"Action": "Collect" | "Count" | {"Take": n}}
  *   op        {"Select": [colExpr…]} | {"Filter": [name, predicate]}
  *             | {"OrderBy": [name…]} | {"GroupBy": [name…]}
  *             | {"Aggregation": {name: aggregator}}
  *             | {"Join": [<state>, leftCol, rightCol]}
  *   colExpr   {"Source": name} | {"Constant": value}
  *             | {"Alias": [name, colExpr]}
  *             | {"Operation": [op, colExpr, colExpr]}
  *   value     {"Bool": b} | {"Int": i} | {"String": s}
  *             | {"Float": f | {"value": f, "phantom": null}}
  *   response  {"dataframe": <state>, "blocks": {name: anyBlock}}
  *   anyBlock  {"Int": [i…]} | {"Float": [f…]} | {"Bool": [b…]}
  *             | {"String": [s…]} | {"IntList": [[i…]…]} | …
  *
  * The reference's `dataframe` state is its operation lineage; ours is
  * the same idea in the same encoding — `{"ops": [<fn-inner>…]}`, the
  * ordered list of operations already applied. Clients treat it as an
  * opaque token and round-trip it (client.py:196-208), so the protocol
  * stays STATELESS: any server replica can serve any request, which is
  * also the 100 TB shape. A token is replayed into a lazy Spark plan
  * by folding [[applyOp]] over its entries, and nothing executes until
  * an Action.
  *
  * The only Spark job a replay would run is a parquet Read's schema
  * inference. `Sources.parquet` keeps the inferred schema per (session,
  * path), checked against a fingerprint of the data files, so a Read
  * that the server does not find pooled opens without a job until the
  * files change.
  *
  * `GraftServer` keeps two pools keyed by lineage, as the reference's
  * Pool keys every entry by its deterministic lineage hash:
  *  - frames: the analyzed plan of every token a Read or Op built,
  *    under a hash of the token. A request looks its prior token (and a
  *    Join its right-side token, through the `lineage` resolver of
  *    [[applyOp]]) up instead of replaying it, so it analyzes only its
  *    own entry; a Read looks up its own one-entry token, so a pooled
  *    Read opens no source. A pooled plan is used only while a fresh
  *    listing of its input files has the fingerprint it was planned
  *    with; otherwise the token is replayed from the files.
  *  - replies: the rendered `blocks` of an Action, under a hash of the
  *    token, the Action, the server's row cap and that fingerprint
  *    (path, length and mtime of every data file the frame reads), so
  *    the same Action over the same files runs no Spark job and builds
  *    no frame.
  * Both are caches of what a replay would compute: a replica that never
  * saw the token replays it and computes the same reply, so the
  * protocol stays stateless.
  */
object Wire {
  private val mapper = new ObjectMapper()

  def parse(body: String): JsonNode = mapper.readTree(body)
  def render(node: JsonNode): String = mapper.writeValueAsString(node)
  def obj(): ObjectNode = mapper.createObjectNode()
  def arr(): ArrayNode = mapper.createArrayNode()

  /** The single tag of an externally-tagged enum object. */
  private def tagOf(node: JsonNode, what: String): (String, JsonNode) = {
    if (node == null || !node.isObject || node.size() != 1)
      throw new GraftException(s"$what: expected single-tag object, got $node")
    val name = node.fieldNames().next()
    (name, node.get(name))
  }

  // ---- values (reference: src/value.rs:84-90) ----

  def valueOf(node: JsonNode): Any = tagOf(node, "value") match {
    case ("Bool", v)   => v.asBoolean()
    case ("Int", v)    => v.asLong()
    case ("String", v) => v.asText()
    case ("Float", v)  =>
      // client.py:64-66 wraps floats as {"value": f, "phantom": null}
      if (v.isObject) v.get("value").asDouble() else v.asDouble()
    case (t, _) => throw new GraftException(s"value: unknown type tag $t")
  }

  def dataTypeOf(name: String): DataType = name match {
    case "Bool"   => GType.Bool
    case "Int"    => GType.Int
    case "Float"  => GType.Float
    case "String" => GType.Str
    case t        => throw new GraftException(s"schema: unknown type $t")
  }

  /** Schema JSON (client.py:25-32): {"columns":[{"name":…,"type_":…}]} */
  def schemaOf(node: JsonNode): StructType =
    StructType(node.get("columns").elements().asScala.map { c =>
      StructField(c.get("name").asText(), dataTypeOf(c.get("type_").asText()))
    }.toSeq)

  // ---- column expressions (reference: src/dataframe.rs:105-111) ----

  def columnExprOf(node: JsonNode): Column = tagOf(node, "columnExpr") match {
    case ("Source", v)   => col(v.asText())
    case ("Constant", v) => lit(valueOf(v))
    case ("Alias", v)    => columnExprOf(v.get(1)).as(v.get(0).asText())
    case ("Operation", v) =>
      val l = columnExprOf(v.get(1))
      val r = columnExprOf(v.get(2))
      v.get(0).asText() match {
        case "Add"      => l + r
        case "Subtract" => l - r
        case "Multiply" => l * r
        case "Divide"   => l / r
        case o          => throw new GraftException(s"arithmetic: unknown op $o")
      }
    case (t, _) => throw new GraftException(s"columnExpr: unknown kind $t")
  }

  def comparatorOf(name: String): Comparator = name match {
    case "Equal"           => Comparator.Equal
    case "GreaterThan"     => Comparator.GreaterThan
    case "GreaterThanOrEq" => Comparator.GreaterThanOrEq
    case "LessThan"        => Comparator.LessThan
    case "LessThanOrEq"    => Comparator.LessThanOrEq
    case c => throw new GraftException(s"predicate: unknown comparator $c")
  }

  def aggregatorOf(name: String): Aggregator = name match {
    case "Sum"     => Aggregator.Sum
    case "Average" => Aggregator.Average
    case "Count"   => Aggregator.Count
    case "First"   => Aggregator.First
    case "Max"     => Aggregator.Max
    case "Min"     => Aggregator.Min
    case a => throw new GraftException(s"aggregate: unknown aggregator $a")
  }

  // ---- lineage replay ----

  /** The entries of a `{"ops": [...]}` state; a missing or empty state
    * is a protocol error. */
  def opsOf(state: JsonNode): Iterator[JsonNode] = {
    if (state == null || state.isNull)
      throw new GraftException("missing dataframe state")
    val ops = state.get("ops")
    if (ops == null || !ops.isArray || ops.isEmpty)
      throw new GraftException("dataframe state has no ops")
    ops.elements().asScala
  }

  /** Replay a `{"ops": [...]}` state into a (lazy) GraftFrame, from its
    * files. */
  def replay(spark: SparkSession, state: JsonNode): GraftFrame =
    replay(spark, state, fromFiles(spark))

  /** As [[replay]], with the states nested in its entries (a Join's
    * right side, the other frame of a SnapshotDiff, RrfFuse or
    * SemanticDecontam) resolved by `lineage`. */
  def replay(spark: SparkSession, state: JsonNode,
             lineage: JsonNode => GraftFrame): GraftFrame =
    opsOf(state).foldLeft(null: GraftFrame) { (acc, fn) =>
      applyOp(spark, acc, fn, lineage)
    }

  /** Apply one lineage entry. `frame` is null only for the leading Read. */
  def applyOp(spark: SparkSession, frame: GraftFrame, fn: JsonNode): GraftFrame =
    applyOp(spark, frame, fn, fromFiles(spark))

  private def fromFiles(spark: SparkSession): JsonNode => GraftFrame =
    (state: JsonNode) => replay(spark, state)

  /** As [[applyOp]], with nested states resolved by `lineage`. */
  def applyOp(spark: SparkSession, frame: GraftFrame, fn: JsonNode,
              lineage: JsonNode => GraftFrame): GraftFrame =
    tagOf(fn, "operation") match {
      case ("Read", v) =>
        val (format, path, schema) =
          (v.get(0).asText(), v.get(1).asText(), schemaOf(v.get(2)))
        format match {
          case "csv"     => Sources.csv(spark, path, schema)
          case "parquet" => Sources.parquet(spark, path) // beyond-reference
          case f => throw new GraftException(s"read: unknown format $f")
        }
      case (opName, v) =>
        if (frame == null)
          throw new GraftException(s"$opName: lineage must start with a Read")
        opName match {
          case "Select" =>
            frame.select(v.elements().asScala.map(columnExprOf).toSeq: _*)
          case "Filter" =>
            val p = v.get(1)
            frame.filter(v.get(0).asText(),
              Predicate(comparatorOf(p.get("comparator").asText()),
                valueOf(p.get("value"))))
          case "OrderBy" =>
            frame.orderBy(v.elements().asScala.map(_.asText()).toSeq: _*)
          case "GroupBy" =>
            frame.groupBy(v.elements().asScala.map(_.asText()).toSeq: _*)
          case "Aggregation" =>
            frame.aggregate(v.properties().asScala
              .map(e => e.getKey -> aggregatorOf(e.getValue.asText())).toMap)
          case "Join" =>
            frame.join(lineage(v.get(0)),
              v.get(1).asText(), v.get(2).asText())
          // ---- beyond-reference verbs (not in the reference protocol;
          // r3 verdict item: the first operators a remote user reaches
          // for that the Read/Op/Action surface can't express). Same
          // externally-tagged encoding; replayed to the operator
          // library, so the wire stays a thin codec. ----
          case "DedupExact" =>
            // {"DedupExact": [idCol, textCol]} → frame filtered to one
            // representative (lowest id) per distinct content; schema
            // unchanged, so it composes with every downstream op
            val (idCol, textCol) = (v.get(0).asText(), v.get(1).asText())
            requireWireCols(frame, Seq(idCol, textCol), "DedupExact")
            GraftFrame(graft.operators.Dedup
              .exactRepresentatives(frame.df, idCol, textCol))
          case "MinhashPairs" =>
            // {"MinhashPairs": [idCol, textCol, threshold]} → the
            // MinHash-LSH near-dup pairs (id_a, id_b, jaccard), exact-
            // verified at `threshold` (plain JSON number, no phantom)
            val (idCol, textCol) = (v.get(0).asText(), v.get(1).asText())
            requireWireCols(frame, Seq(idCol, textCol), "MinhashPairs")
            GraftFrame(graft.operators.Dedup
              .minhashLshPairs(frame.df, idCol, textCol,
                threshold = v.get(2).asDouble()))
          case "WindowTopK" =>
            // {"WindowTopK": [partitionCol, orderCol, k]} → top-k rows
            // per partition by orderCol DESC, with a 1-based "rank"
            // column appended (ties broken by the order column only —
            // deterministic when (partition, order) pairs are unique)
            val (p, o) = (v.get(0).asText(), v.get(1).asText())
            requireWireCols(frame, Seq(p, o), "WindowTopK")
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col(p)).orderBy(desc(o))
            GraftFrame(frame.df
              .withColumn("rank", row_number().over(w))
              .filter(col("rank") <= lit(v.get(2).asInt())))
          case "SnapshotDiff" =>
            // {"SnapshotDiff": [<read-spec>, keyCol, payloadCol]} →
            // added/removed/changed change feed of THIS frame (old)
            // vs the replayed frame (new): (key, change, old_fp,
            // new_fp). Fingerprints are md5, computed map-side.
            val newSnap = lineage(v.get(0))
            val (keyCol, payCol) = (v.get(1).asText(), v.get(2).asText())
            requireWireCols(frame, Seq(keyCol, payCol), "SnapshotDiff")
            requireWireCols(newSnap, Seq(keyCol, payCol), "SnapshotDiff")
            GraftFrame(graft.operators.Dedup
              .snapshotDiff(frame.df, newSnap.df, keyCol, payCol))
          case "ConnectedComponents" =>
            // {"ConnectedComponents": [srcCol, dstCol]} → (id, cluster)
            // min-label components of THIS frame's pair rows —
            // composes with MinhashPairs for the full remote dedup
            // flow (pairs → clusters) without shipping pairs back
            val (s, d) = (v.get(0).asText(), v.get(1).asText())
            requireWireCols(frame, Seq(s, d), "ConnectedComponents")
            GraftFrame(graft.operators.Dedup
              .connectedComponents(frame.df, s, d))
          case "RrfFuse" =>
            // {"RrfFuse": [<lineage of second rank list>, idCol,
            // rankCol, k0, topK]} → reciprocal-rank fusion of THIS
            // frame's (id, rank) list with the replayed one — the
            // hybrid-retrieval combiner (q172) over the wire
            val other = lineage(v.get(0))
            val (idCol, rankCol) = (v.get(1).asText(), v.get(2).asText())
            requireWireCols(frame, Seq(idCol, rankCol), "RrfFuse")
            requireWireCols(other, Seq(idCol, rankCol), "RrfFuse")
            GraftFrame(graft.operators.Curation.rrfFuse(
              Seq(frame.df, other.df), idCol, rankCol,
              k0 = v.get(3).asInt(), topK = v.get(4).asInt()))
          case "SemanticDecontam" =>
            // {"SemanticDecontam": [<lineage of eval frame>, idCol,
            // vecCol, tau]} → (train_id, eval_id, cosine) for every
            // row of THIS frame whose max cosine against the replayed
            // eval frame reaches tau — the embedding decontamination
            // rung (q218) on the wire. Vectors stay server-side; only
            // the flagged evidence rows travel back.
            val evalF = lineage(v.get(0))
            val (idCol, vecCol) = (v.get(1).asText(), v.get(2).asText())
            requireWireCols(frame, Seq(idCol, vecCol), "SemanticDecontam")
            requireWireCols(evalF, Seq(idCol, vecCol), "SemanticDecontam")
            GraftFrame(graft.operators.Similarity.semanticDecontaminate(
              frame.df, evalF.df, idCol, idCol, vecCol, vecCol,
              tau = v.get(3).asDouble()))
          case o => throw new GraftException(s"operation: unknown op $o")
        }
    }

  private def requireWireCols(frame: GraftFrame, names: Seq[String],
                              what: String): Unit = {
    val have = frame.df.columns.toSet
    val missing = names.filterNot(have)
    if (missing.nonEmpty)
      throw new GraftException(
        s"$what: missing column(s) ${missing.mkString(", ")} " +
          s"in schema [${frame.df.columns.mkString(", ")}]")
  }

  // ---- result blocks (reference AnyBlock, src/block.rs:109-119) ----

  private def blockTag(t: DataType): String = t match {
    case ArrayType(elem, _) => scalarTag(elem) + "List"
    case _                  => scalarTag(t)
  }

  private def scalarTag(t: DataType): String = t match {
    case BooleanType              => "Bool"
    case ByteType | ShortType | IntegerType | LongType => "Int"
    case FloatType | DoubleType   => "Float"
    // dates and timestamps travel as ISO-8601 text, as the reference
    // client types dates (client.py:300-302)
    case StringType | DateType | TimestampType | TimestampNTZType => "String"
    case other => throw new GraftException(s"blocks: unsupported column type $other")
  }

  /** ISO-8601 text of a date or timestamp in either of Spark's external
    * forms (java.sql, or java.time under spark.sql.datetime.java8API).
    * TimestampType is an instant, written in UTC with a `Z`;
    * TimestampNTZType is a local date-time, written without a zone. */
  private def isoText(v: Any): String = v match {
    case d: java.sql.Date           => d.toLocalDate.toString
    case d: java.time.LocalDate     => d.toString
    case t: java.sql.Timestamp      => t.toInstant.toString
    case t: java.time.Instant       => t.toString
    case t: java.time.LocalDateTime =>
      t.format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
  }

  private def writeScalar(a: ArrayNode, t: DataType, v: Any): Unit =
    if (v == null) a.addNull()
    else t match {
      case BooleanType => a.add(v.asInstanceOf[Boolean])
      case ByteType    => a.add(v.asInstanceOf[Byte].toLong)
      case ShortType   => a.add(v.asInstanceOf[Short].toLong)
      case IntegerType => a.add(v.asInstanceOf[Int].toLong)
      case LongType    => a.add(v.asInstanceOf[Long])
      case FloatType   => a.add(v.asInstanceOf[Float].toDouble)
      case DoubleType  => a.add(v.asInstanceOf[Double])
      case StringType  => a.add(v.asInstanceOf[String])
      case DateType | TimestampType | TimestampNTZType => a.add(isoText(v))
      case other => throw new GraftException(s"blocks: unsupported scalar $other")
    }

  /** Columnar result map — the reference's `as_blocks` over the wire.
    * SQL nulls (the reference's Float NaN — serde_json cannot carry
    * NaN, so this is the one documented wire divergence) serialize as
    * JSON nulls.
    */
  def blocksOf(rows: Array[Row], schema: StructType): ObjectNode = {
    val blocks = obj()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val values = arr()
      f.dataType match {
        case ArrayType(elem, _) =>
          rows.foreach { r =>
            if (r.isNullAt(i)) values.addNull()
            else {
              val inner = arr()
              r.getSeq[Any](i).foreach(writeScalar(inner, elem, _))
              values.add(inner)
            }
          }
        case t => rows.foreach(r => writeScalar(values, t, r.get(i)))
      }
      val tagged = obj()
      tagged.set[JsonNode](blockTag(f.dataType), values)
      blocks.set[JsonNode](f.name, tagged)
    }
    blocks
  }
}
