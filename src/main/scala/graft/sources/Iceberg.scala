package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.tables.ManagedTable

/** Read-only access to, and zero-copy export of, Apache ICEBERG tables —
  * the open-lakehouse sibling of [[DeltaImport]] and the second-most-
  * common migration source for the reference's audience (mack users are
  * lakehouse-table operators, mack/__init__.py:4). No Iceberg jars are
  * needed: the table format is a public spec (iceberg.apache.org/spec) —
  * a `*.metadata.json` pointer file under `metadata/`, an Avro manifest LIST per
  * snapshot, Avro manifests of data-file entries, plain parquet data —
  * and the Avro container layer is hand-coded in [[Avro]] the way
  * [[Tfrecord]] hand-codes protobuf.
  *
  * Supported: format versions 1 and 2, `version-hint.text` and
  * catalog-style (`00000-<uuid>`) metadata naming, v1 inline `manifests`
  * lists and v2 `manifest-list` files, snapshot resolution by
  * `current-snapshot-id`, schema by `current-schema-id` (TIME TRAVEL by
  * an explicit `snapshotId` resolves the SNAPSHOT'S OWN `schema-id`
  * instead, the spec's rule — a pre-rename snapshot reads under the
  * names it was written with), v2 POSITION DELETES (merge-on-read:
  * delete manifests' parquet files of `(file_path, pos)` adopt into the
  * managed table's native RoaringBitmap-backed `_graft_dv` sidecars —
  * O(deleted rows), no data rewrite; see [[DeltaDv]] for the sidecar
  * codec), all partition transforms whose data files CARRY the source
  * columns, and RENAMED columns whenever data-file footers stamp
  * parquet field ids (Iceberg writers always do): the adopted schema
  * keeps the spec ids as `parquet.field.id` field metadata and the
  * managed scan resolves columns BY ID (Spark's native
  * `spark.sql.parquet.fieldId.read.enabled` path, switched on by the
  * scan when its schema carries ids), so files written before a rename
  * serve the renamed column correctly at any nesting depth.
  *
  * Partition handling honors the spec's COLUMN PROJECTION rule
  * (iceberg spec "Column Projection" #2). Identity transforms: data
  * files that carry the source columns (the Iceberg java writer's
  * output) adopt flat — per-file min/max footer stats give the managed
  * scan equivalent pruning — while files that LACK them (Hive-migrated
  * data, where readers resolve the value from the manifest's partition
  * record) adopt into synthesized `k=v` dirs from those manifest
  * values. Non-identity transforms (bucket/truncate/year/month/day/
  * hour) are LAYOUT HINTS: Iceberg-written data files carry the real
  * source columns, so they adopt FLAT and footer min/max stats provide
  * pruning; only files that LACK a transform's source column are
  * unresolvable and refuse. A PARTIAL identity carry (mixed layouts in
  * one table) refuses loud — the failure mode dodged is a silent
  * null-fill.
  *
  * Refused loud (silently misreading a table would be worse than
  * failing): format version 3+, v2 EQUALITY deletes (resolving them
  * needs a scan of every data file — compact on the Iceberg side
  * first), delete-file entries inside data manifests (and vice versa —
  * malformed metadata), non-parquet data files, unsupported column
  * types (uuid/fixed/time), unknown partition transforms, non-identity
  * transforms whose sources are missing from the data files,
  * PARTIALLY-id-stamped footers (no safe regime exists: an id-resolved
  * scan would null-fill the unstamped fields, a name-trusted read
  * could not see a rename on them — footers are FULLY stamped, entirely
  * id-less, or refused), RENAMED columns in tables with any entirely
  * id-less footer (those files are trusted by name, the documented
  * boundary; every id a fully-stamped footer carries is cross-checked
  * recursively through nested structs and a mismatch refuses), and a
  * rename whose STALE name collides with a different current column
  * (per-file footer stats would cross-bind to the wrong column and
  * corrupt file skipping). After an id-resolved import, every graft
  * write to the table RE-STAMPS the ids ([[ManagedTable]]'s write
  * path), so append/UPDATE/OPTIMIZE files id-resolve like the adopted
  * ones. [[snapshot]]/[[importTable]] take an
  * optional `snapshotId` for TIME TRAVEL to any snapshot still listed
  * in the metadata.
  *
  * Import integrity: the adopted table's metadata row count (parquet
  * footer sum minus adopted delete cardinality) must equal the
  * manifests' `record_count` sum minus the matched position deletes —
  * a mismatch means the metadata and the files disagree and the import
  * aborts. Delete files are additionally checked row-for-row against
  * their manifests' `record_count`.
  *
  * Scale shape: manifests are file-granular METADATA, parsed
  * driver-side exactly like Delta's `_delta_log` (same as
  * [[DeltaImport]]'s snapshot reconstruction); the data itself never
  * moves — files hard-link via [[ManagedTable.adoptFiles]] and the
  * managed scan is a plain distributed parquet read. Position-delete
  * ROWS are the one O(deleted rows) mass and they move through a
  * distributed read + one broadcast join against the O(files) path map,
  * never through the driver. [[exportTable]] is zero-copy in the other
  * direction: the written metadata REFERENCES the managed table's live
  * data files by absolute URI, so publishing a 100 TB table to an
  * Iceberg reader writes only O(files) metadata — plus O(deleted rows)
  * of spec-shaped position-delete parquet when the snapshot carries
  * deletion vectors.
  */
object Iceberg {

  private val mapper = new ObjectMapper()

  /** Spark's parquet field-id metadata key: a read schema whose fields
    * carry it resolves parquet columns by id instead of name once
    * `spark.sql.parquet.fieldId.read.enabled` is on. One shared
    * constant — [[ManagedTable]]'s scan switch and write re-stamping
    * key off the same name.
    */
  private[sources] val FieldIdKey = ManagedTable.FieldIdMetadataKey

  /** Reserved field ids of position-delete file columns (spec
    * "Position Delete Files").
    */
  private val PosDeletePathId = 2147483546L
  private val PosDeletePosId = 2147483545L

  // ---- schema conversion (Iceberg JSON -> Spark) ----------------------

  private val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  private[sources] def toSparkType(t: JsonNode): DataType =
    if (t.isTextual) t.asText() match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case "string" => StringType
      case "binary" => BinaryType
      case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg column type: $other " +
          "(uuid/time/fixed have no faithful Spark mapping here)")
    } else t.path("type").asText() match {
      case "struct" => toStructType(t)
      case "list" =>
        ArrayType(toSparkType(t.get("element")),
          containsNull = !t.path("element-required").asBoolean(false))
      case "map" =>
        MapType(toSparkType(t.get("key")), toSparkType(t.get("value")),
          valueContainsNull = !t.path("value-required").asBoolean(false))
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg nested type: $other")
    }

  /** Struct fields keep their spec field ids as [[FieldIdKey]] metadata
    * (at every nesting depth) — the id-resolved adoption regime commits
    * this schema so the managed scan can match renamed columns by id.
    */
  private[sources] def toStructType(struct: JsonNode): StructType =
    StructType(struct.path("fields").elements().asScala.map { f =>
      val base = StructField(f.path("name").asText(),
        toSparkType(f.get("type")),
        nullable = !f.path("required").asBoolean(false))
      if (f.has("id"))
        base.copy(metadata = new MetadataBuilder()
          .putLong(FieldIdKey, f.get("id").asLong()).build())
      else base
    }.toSeq)

  /** The same schema without [[FieldIdKey]] metadata — committed in the
    * name-trust regime, where id-resolution must NOT engage (footers
    * lack complete ids, and Spark refuses id-bearing read schemas over
    * id-less files).
    */
  private def stripType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = stripType(f.dataType),
        metadata = new MetadataBuilder()
          .withMetadata(f.metadata).remove(FieldIdKey).build())))
    case a: ArrayType => a.copy(elementType = stripType(a.elementType))
    case m: MapType => m.copy(keyType = stripType(m.keyType),
      valueType = stripType(m.valueType))
    case o => o
  }

  private[sources] def stripFieldIds(t: StructType): StructType =
    stripType(t).asInstanceOf[StructType]

  /** (field id -> name) of every NAMED struct field in an Iceberg
    * schema node, at ALL nesting depths (recursing through structs,
    * list elements, and map keys/values). List element / map key/value
    * ids are deliberately EXCLUDED: their parquet counterparts carry
    * synthetic names (`element`, `key`, `value`), so a name comparison
    * there is meaningless.
    */
  private[sources] def structFieldIds(struct: JsonNode): Map[Int, String] = {
    val out = Map.newBuilder[Int, String]
    def walkType(t: JsonNode): Unit =
      if (t != null && t.isObject) t.path("type").asText() match {
        case "struct" =>
          t.path("fields").elements().asScala.foreach { f =>
            if (f.has("id"))
              out += f.get("id").asInt() -> f.path("name").asText()
            walkType(f.get("type"))
          }
        case "list" => walkType(t.get("element"))
        case "map" => walkType(t.get("key")); walkType(t.get("value"))
        case _ => ()
      }
    walkType(struct)
    out.result()
  }

  /** Top-level (field id -> name) only. */
  private[sources] def topFieldIds(struct: JsonNode): Map[Int, String] =
    struct.path("fields").elements().asScala
      .filter(_.has("id"))
      .map(f => f.get("id").asInt() -> f.path("name").asText()).toMap

  // ---- snapshot model --------------------------------------------------

  final case class DataFileRef(path: String, recordCount: Long,
                               sizeBytes: Long,
                               /** manifest partition record, keyed by
                                 * SPEC FIELD name (raw Avro values).
                                 */
                               partition: Map[String, Any])

  /** One default-spec partition field: spec field name, resolved
    * top-level source column, its field id, and the transform string
    * (`identity`, `bucket[16]`, `truncate[4]`, `year`, ...).
    */
  final case class SpecField(name: String, sourceCol: String,
                             sourceId: Int, transform: String) {
    def isIdentity: Boolean = transform == "identity"
  }

  final case class Snapshot(formatVersion: Int,
                            schema: StructType,
                            /** named struct fields at all depths. */
                            fieldIdToName: Map[Int, String],
                            /** top-level fields only. */
                            topIdToName: Map[Int, String],
                            specFields: Seq[SpecField],
                            properties: Map[String, String],
                            files: Seq[DataFileRef],
                            /** position-delete files (parquet of
                              * `(file_path, pos)`).
                              */
                            deleteFiles: Seq[DataFileRef]) {
    def identityFields: Seq[(String, String)] =
      specFields.filter(_.isIdentity).map(f => f.name -> f.sourceCol)
    def partitionSourceCols: Seq[String] = identityFields.map(_._2)
  }

  /** Current metadata file under `tableDir/metadata`: the
    * `version-hint.text` pointer when present (HadoopTables), else the
    * newest `*.metadata.json` (numeric `v<N>` order when all files use
    * that form; the zero-padded catalog form sorts lexicographically).
    */
  private[sources] def currentMetadataFile(tableDir: String): Path = {
    val metaDir = Paths.get(tableDir, "metadata")
    require(Files.isDirectory(metaDir),
      s"not an Iceberg table (no metadata/ directory): $tableDir")
    val hint = metaDir.resolve("version-hint.text")
    if (Files.isRegularFile(hint)) {
      val v = Files.readString(hint).trim
      val cands = Seq(s"v$v.metadata.json", s"$v.metadata.json")
        .map(metaDir.resolve)
      cands.find(Files.isRegularFile(_)).getOrElse(
        throw new IllegalArgumentException(
          s"version-hint.text says $v but no matching metadata file in $metaDir"))
    } else {
      val all = {
        val s = Files.list(metaDir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".metadata.json")).toSeq
        finally s.close()
      }
      require(all.nonEmpty, s"no *.metadata.json under $metaDir")
      val VRe = """v(\d+)\.metadata\.json""".r
      val numeric = all.flatMap {
        case VRe(n) => Some(n.toLong); case _ => None
      }
      val pick =
        if (numeric.length == all.length) s"v${numeric.max}.metadata.json"
        else all.max // catalog form: zero-padded sequence prefix
      metaDir.resolve(pick)
    }
  }

  /** Re-root a metadata path: strip any `file:` scheme; rewrite the
    * table's embedded original `location` prefix to the directory being
    * read (tables move; their metadata keeps the old absolute paths).
    */
  private[sources] def resolvePath(p: String, metaLocation: String,
                                   tableDir: String): Path = {
    def deScheme(s: String): String =
      if (s.startsWith("file:")) {
        val rest = s.stripPrefix("file:")
        // file:///x and file:/x both mean /x; file://host/x unsupported
        if (rest.startsWith("///")) rest.substring(2)
        else if (rest.startsWith("//")) throw new IllegalArgumentException(
          s"file URI with authority unsupported: $s")
        else rest
      } else s
    val raw = deScheme(p)
    val loc = deScheme(metaLocation).stripSuffix("/")
    val candidate =
      if (loc.nonEmpty && raw.startsWith(loc + "/"))
        Paths.get(tableDir, raw.stripPrefix(loc + "/"))
      else if (raw.startsWith("/")) Paths.get(raw)
      else Paths.get(tableDir, raw)
    require(Files.isRegularFile(candidate),
      s"Iceberg metadata references a missing file: $p (resolved $candidate)")
    candidate
  }

  /** Partition transforms whose data files carry the real source
    * column (every transform the java writer emits except `void`):
    * their layout hint is droppable — flat adoption with footer stats
    * is faithful.
    */
  private val CarriedTransformRe =
    """identity|bucket\[\d+\]|truncate\[\d+\]|year|month|day|hour""".r

  /** Load and validate the current snapshot — or, for TIME TRAVEL, the
    * explicit `snapshotId` (any snapshot still listed in the metadata's
    * `snapshots[]`; an unknown id fails loud listing what exists, like
    * `toDF(version)` on a vacuumed managed table). Time travel resolves
    * the SNAPSHOT'S OWN `schema-id` (spec rule: a snapshot reads under
    * the schema it was committed with), falling back to
    * `current-schema-id` when the snapshot predates the field.
    */
  def snapshot(tableDir: String, snapshotId: Option[Long] = None): Snapshot = {
    val metaPath = currentMetadataFile(tableDir)
    val root = mapper.readTree(Files.readString(metaPath))
    val fv = root.path("format-version").asInt(1)
    require(fv == 1 || fv == 2,
      s"unsupported Iceberg format-version $fv (1 and 2 are supported)")
    val location = root.path("location").asText("")

    // snapshot FIRST: time travel scopes the schema to the snapshot
    val curId = snapshotId.getOrElse(
      root.path("current-snapshot-id").asLong(-1L))
    val snapNode: Option[JsonNode] =
      if (curId == -1L) None
      else Some(root.path("snapshots").elements().asScala
        .find(_.path("snapshot-id").asLong() == curId)
        .getOrElse {
          val known = root.path("snapshots").elements().asScala
            .map(_.path("snapshot-id").asLong()).toSeq.sorted
          throw new IllegalArgumentException(
            s"snapshot-id $curId not in snapshots[] (available: " +
              s"${known.mkString(", ")})")
        })

    // schema: v2 schemas[] — by the snapshot's own schema-id under
    // explicit time travel, else current-schema-id; v1 inline "schema".
    // Writers that emit schemas[] WITHOUT current-schema-id fall back
    // to the SOLE schemas[] entry; the deprecated inline v1 node is
    // consulted only when schemas[] is empty (r21 ADVICE: inline-first
    // let a stale inline schema silently win over a multi-entry v2
    // list — upstream Iceberg refuses such metadata outright, and so
    // does the genuinely ambiguous multi-entry/no-pointer case here)
    val schemaNode: JsonNode =
      if (root.has("schemas")) {
        val wantId: Option[Int] = snapNode
          .filter(_ => snapshotId.isDefined)
          .filter(_.hasNonNull("schema-id"))
          .map(_.get("schema-id").asInt())
          .orElse(
            if (root.has("current-schema-id"))
              Some(root.get("current-schema-id").asInt())
            else None)
        wantId match {
          case Some(want) =>
            root.get("schemas").elements().asScala
              .find(_.path("schema-id").asInt(-1) == want)
              .getOrElse(throw new IllegalArgumentException(
                s"schema-id $want not in schemas[]"))
          case None =>
            val all = root.get("schemas").elements().asScala.toSeq
            val inline = root.path("schema")
            if (all.size == 1) all.head
            else if (all.isEmpty && inline.has("fields")) inline
            else if (all.isEmpty) throw new IllegalArgumentException(
              "Iceberg metadata has an empty schemas[] and no inline " +
                "schema node with fields — there is no schema to read")
            else throw new IllegalArgumentException(
              "Iceberg metadata has more than one schemas[] entry but " +
                "no current-schema-id — the choice is ambiguous (a " +
                "deprecated inline schema node cannot adjudicate a v2 " +
                "schema list)")
        }
      } else root.path("schema")
    require(schemaNode != null && schemaNode.has("fields"),
      "Iceberg metadata lacks a schema")
    val schema = toStructType(schemaNode)
    val idToName = structFieldIds(schemaNode)
    val topIds = topFieldIds(schemaNode)

    // partition spec: v2 partition-specs[] by default-spec-id, else v1
    // inline "partition-spec"
    val rawSpecFields: Seq[JsonNode] =
      if (root.has("partition-specs")) {
        val id = root.path("default-spec-id").asInt(0)
        root.get("partition-specs").elements().asScala
          .find(_.path("spec-id").asInt(-1) == id)
          .map(_.path("fields").elements().asScala.toSeq)
          .getOrElse(throw new IllegalArgumentException(
            s"default-spec-id $id not in partition-specs[]"))
      } else if (root.has("partition-spec"))
        root.get("partition-spec").elements().asScala.toSeq
      else Nil
    val specFields = rawSpecFields.flatMap { f =>
      f.path("transform").asText() match {
        case "void" => None // always-null transform: no data dependency
        case tr @ CarriedTransformRe() =>
          val sid = f.path("source-id").asInt()
          val src = topIds.getOrElse(sid,
            throw new IllegalArgumentException(
              if (idToName.contains(sid))
                s"partition source-id $sid (${idToName(sid)}) is a NESTED " +
                  "field — nested partition sources are not supported"
              else s"partition source-id $sid not in schema"))
          Some(SpecField(f.path("name").asText(src), src, sid, tr))
        case other => throw new IllegalArgumentException(
          s"unsupported Iceberg partition transform: $other")
      }
    }

    val properties = root.path("properties") match {
      case o: ObjectNode =>
        o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      case _ => Map.empty[String, String]
    }

    if (snapNode.isEmpty) // absent / -1 current snapshot: empty table
      return Snapshot(fv, schema, idToName, topIds, specFields, properties,
        Nil, Nil)
    val snap = snapNode.get

    // manifest paths + content kind: v2 manifest-list file (content:
    // 0 = data manifest, 1 = delete manifest), or v1 inline manifests[]
    // (data by definition)
    val manifests: Seq[(Path, Int)] =
      if (snap.has("manifest-list")) {
        val mlPath = resolvePath(snap.get("manifest-list").asText(),
          location, tableDir)
        val ml = readAvro(mlPath)
        ml.records.map(_.asInstanceOf[Map[String, Any]]).map { r =>
          val content = r.get("content") match {
            case Some(i: Int) => i
            case Some(l: Long) => l.toInt
            case _ => 0 // v1 lists carry no content field: all data
          }
          require(content == 0 || content == 1,
            s"unknown manifest content kind $content in $mlPath")
          (resolvePath(r("manifest_path").asInstanceOf[String], location,
            tableDir), content)
        }
      } else if (snap.has("manifests"))
        snap.get("manifests").elements().asScala.toSeq
          .map(m => (resolvePath(m.asText(), location, tableDir), 0))
      else throw new IllegalArgumentException(
        "snapshot has neither manifest-list nor manifests")

    def entryContent(e: Map[String, Any], df: Map[String, Any]): Int =
      df.get("content") match {
        case Some(i: Int) => i
        case Some(l: Long) => l.toInt
        case _ => 0 // v1 entries: data by definition
      }

    def readEntries(mp: Path, kind: Int): Seq[(Map[String, Any], Int)] = {
      val c = readAvro(mp)
      // the manifest's own content stamp must agree with the list's
      c.meta.get("content")
        .map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
        .foreach { ct =>
          val want = if (kind == 0) "data" else "deletes"
          require(ct == want,
            s"manifest list says content=$kind but manifest $mp stamps " +
              s"content=$ct — malformed metadata")
        }
      c.records.map(_.asInstanceOf[Map[String, Any]]).flatMap { e =>
        val status = e("status").asInstanceOf[Int]
        if (status == 2) None // DELETED: not live in this snapshot
        else {
          val df = e("data_file").asInstanceOf[Map[String, Any]]
          Some((df, entryContent(e, df)))
        }
      }
    }

    def toRef(df: Map[String, Any], mp: Path): DataFileRef = {
      val fmt = df("file_format").asInstanceOf[String]
      require(fmt.equalsIgnoreCase("PARQUET"),
        s"non-parquet Iceberg file ($fmt): ${df("file_path")} in $mp")
      DataFileRef(df("file_path").asInstanceOf[String],
        df("record_count").asInstanceOf[Long],
        df.get("file_size_in_bytes") match {
          case Some(l: Long) => l; case Some(i: Int) => i.toLong
          case _ => 0L
        },
        df.get("partition") match {
          case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
          case _ => Map.empty
        })
    }

    val files = manifests.filter(_._2 == 0).flatMap { case (mp, _) =>
      readEntries(mp, 0).map { case (df, c) =>
        require(c == 0,
          s"delete-file entry (content=$c) inside a DATA manifest $mp — " +
            "malformed metadata")
        toRef(df, mp)
      }
    }
    val deleteFiles = manifests.filter(_._2 == 1).flatMap { case (mp, _) =>
      readEntries(mp, 1).map { case (df, c) =>
        c match {
          case 1 => toRef(df, mp) // position deletes: adoptable
          case 2 => throw new IllegalArgumentException(
            s"equality deletes are refused (${df("file_path")} in $mp) — " +
              "resolving them needs a scan of every data file; compact " +
              "with rewrite_data_files on the Iceberg side first")
          case other => throw new IllegalArgumentException(
            s"data-file entry (content=$other) inside a DELETE manifest " +
              s"$mp — malformed metadata")
        }
      }
    }
    Snapshot(fv, schema, idToName, topIds, specFields, properties, files,
      deleteFiles)
  }

  private def readAvro(p: Path): Avro.Container = {
    val in = Files.newInputStream(p)
    try Avro.readContainer(in) finally in.close()
  }

  // ---- import ----------------------------------------------------------

  /** One data file's footer facts, read in a single metadata pass:
    * all recursive (field id -> name) pairs, the top-level pairs, the
    * top-level column names, and the id-stamping CLASS —
    * `fullIds` = every field the file contains carries an id at every
    * depth (parquet LIST/MAP repetition wrappers exempt: they have no
    * Iceberg identity; their element/key/value children do), `anyId` =
    * at least one id anywhere. `anyId && !fullIds` is the PARTIAL
    * class, which the import refuses as malformed: an id-resolved scan
    * of such a file would silently null-fill its unstamped fields, and
    * a name-trusted read could not see a rename on them. A file that
    * IS fully stamped but predates a later-ADDED column stays `full` —
    * completeness is over the fields the file has, so schema evolution
    * null-fills the new column by id absence, which is correct.
    */
  private final case class FooterMeta(allIds: Map[Int, String],
                                      topIds: Map[Int, String],
                                      fullIds: Boolean,
                                      anyId: Boolean,
                                      topCols: Set[String])

  private def parquetFooterMeta(
      conf: org.apache.hadoop.conf.Configuration, file: Path): FooterMeta = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.GroupType
    import org.apache.parquet.schema.LogicalTypeAnnotation.{
      ListLogicalTypeAnnotation, MapLogicalTypeAnnotation}
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val top = reader.getFooter.getFileMetaData.getSchema.getFields.asScala
      val all = scala.collection.mutable.Map.empty[Int, String]
      def walk(t: org.apache.parquet.schema.Type): Unit = {
        Option(t.getId).foreach(id => all(id.intValue()) = t.getName)
        t match {
          case g: GroupType => g.getFields.asScala.foreach(walk)
          case _ => ()
        }
      }
      top.foreach(walk)
      // completeness: every NAMED field stamped, wrappers exempt
      def fieldOk(t: org.apache.parquet.schema.Type): Boolean =
        t.getId != null && childrenOk(t)
      def childrenOk(t: org.apache.parquet.schema.Type): Boolean = t match {
        case g: GroupType =>
          val listOrMap = g.getLogicalTypeAnnotation match {
            case _: ListLogicalTypeAnnotation |
                 _: MapLogicalTypeAnnotation => true
            case _ => false
          }
          if (!listOrMap) g.getFields.asScala.forall(fieldOk)
          else g.getFields.asScala.forall {
            // the repeated `list` / `key_value` wrapper carries no
            // Iceberg identity; its children are real fields again
            case w: GroupType if w.getId == null =>
              w.getFields.asScala.forall(fieldOk)
            case other => fieldOk(other)
          }
        case _ => true
      }
      val topIds = top.flatMap(f =>
        Option(f.getId).map(id => id.intValue() -> f.getName)).toMap
      FooterMeta(all.toMap, topIds,
        top.nonEmpty && top.forall(fieldOk),
        all.nonEmpty,
        top.map(_.getName).toSet)
    } finally reader.close()
  }

  /** Import the current snapshot as a [[ManagedTable]] at `targetPath` —
    * zero-copy (hard links) like the Delta path; position deletes adopt
    * into `_graft_dv` sidecars. See the object doc for the supported/
    * refused matrix and the integrity checks.
    */
  def importTable(spark: SparkSession, tableDir: String,
                  targetPath: String,
                  snapshotId: Option[Long] = None): ManagedTable = {
    val snap = snapshot(tableDir, snapshotId)
    if (snap.files.isEmpty)
      return ManagedTable.create(
        spark.createDataFrame(new java.util.ArrayList[Row](),
          stripFieldIds(snap.schema)),
        targetPath, properties = snap.properties)
    val location = {
      // re-read the metadata location for path re-rooting
      val root = mapper.readTree(Files.readString(currentMetadataFile(tableDir)))
      root.path("location").asText("")
    }
    val resolved = snap.files.map(f =>
      (resolvePath(f.path, location, tableDir), f)).sortBy(_._1.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    val footers: Map[Path, FooterMeta] =
      resolved.map { case (p, _) => p -> parquetFooterMeta(conf, p) }.toMap

    // RENAMED-COLUMN handling. The spec resolves columns by FIELD ID.
    // Each footer is one of three classes (see [[FooterMeta]]):
    //  - FULLY stamped at every depth (Iceberg writers always do):
    //    commit the id-bearing schema and let the managed scan resolve
    //    BY ID (renames — at any struct depth — read correctly,
    //    including files written under the old name). The one refusal
    //    left is the stats-cross-bind swap: a stale footer name that
    //    equals a DIFFERENT current column would bind that file's
    //    min/max bounds to the wrong column and corrupt file skipping.
    //  - Entirely ID-LESS (foreign/migrated files): trusted by name —
    //    the documented boundary (renames on such files are
    //    undetectable by construction).
    //  - PARTIALLY stamped: refused as malformed — an id-resolved scan
    //    would silently NULL-FILL the unstamped fields (Spark's id
    //    matching has no per-field name fallback), and a name-trusted
    //    read could not see a rename on them; no safe regime exists.
    // A mix of full and id-less files adopts by NAME, with every id
    // the full footers carry cross-checked recursively against the
    // schema's named struct fields (mismatch = rename = refusal).
    resolved.foreach { case (p, _) =>
      val f = footers(p)
      require(!f.anyId || f.fullIds,
        s"data file $p is PARTIALLY stamped with parquet field ids — " +
          "malformed (Iceberg writers stamp every field); an id-resolved " +
          "scan would null-fill the unstamped fields silently; rewrite " +
          "the file")
    }
    val idComplete = resolved.forall { case (p, _) => footers(p).fullIds }
    if (idComplete) {
      val topNames = snap.schema.fieldNames.toSet
      resolved.foreach { case (p, _) =>
        footers(p).topIds.foreach { case (id, fileName) =>
          snap.topIdToName.get(id).foreach { schemaName =>
            require(schemaName == fileName || !topNames.contains(fileName),
              s"column swap-renamed: field id $id is '$fileName' in data " +
                s"file $p but '$schemaName' in the table schema, and " +
                s"'$fileName' now names a different column — per-file " +
                "footer stats would cross-bind and corrupt file " +
                "skipping; rewrite the files first")
          }
        }
      }
      // the managed scan switches spark.sql.parquet.fieldId.read.enabled
      // on whenever its committed schema carries ids; set it here too so
      // the very first read after import plans id-resolved
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    } else {
      resolved.foreach { case (p, _) =>
        footers(p).allIds.foreach { case (id, fileName) =>
          snap.fieldIdToName.get(id).foreach { schemaName =>
            require(schemaName == fileName,
              s"column renamed: field id $id is '$fileName' in data " +
                s"file $p but '$schemaName' in the table schema, and the " +
                "file's footers lack COMPLETE field ids for id-resolved " +
                "reads — name-based adoption would null-fill it " +
                "silently; rewrite the files or re-import under the old " +
                "name")
          }
        }
      }
    }
    val commitSchema =
      if (idComplete) snap.schema else stripFieldIds(snap.schema)

    // NON-IDENTITY transforms (bucket/truncate/year/...) are layout
    // hints: adoption is FLAT, which is faithful iff every data file
    // carries the transform's source column (Iceberg-written files do;
    // Hive-migrated files under a non-identity transform are
    // unresolvable — the manifest stores only the TRANSFORMED value)
    val nonIdentity = snap.specFields.filterNot(_.isIdentity)
    def carries(p: Path, sf: SpecField): Boolean =
      footers(p).topCols.contains(sf.sourceCol) ||
        footers(p).topIds.contains(sf.sourceId)
    nonIdentity.foreach { sf =>
      resolved.foreach { case (p, _) =>
        require(carries(p, sf),
          s"data file $p lacks '${sf.sourceCol}', the source column of " +
            s"non-identity partition transform ${sf.transform} — only " +
            "files that CARRY the sources (the Iceberg writer's output) " +
            "can adopt flat; the transformed partition value alone is " +
            "unresolvable")
      }
    }

    // identity-partition handling per the spec's COLUMN PROJECTION rule
    // (iceberg spec "Column Projection" #2: a field absent from a data
    // file whose id is an identity partition source resolves to the
    // manifest's partition value). Two clean regimes:
    //   - every file CARRIES the sources (the Iceberg java writer's
    //     output): adopt flat — re-exposing hive dirs would double the
    //     column against the file contents;
    //   - every file LACKS them (Hive-migrated data): adopt into
    //     synthesized k=v dirs from the manifest partition values, so
    //     the managed scan serves the constants the way an Iceberg
    //     reader would.
    // A PARTIAL carry (some columns, or some files) is refused loud —
    // blending both rules in one table risks a silent null-fill. With
    // non-identity transforms in the spec, identity sources must be
    // carried too (a mixed flat/hive layout cannot exist).
    val idFields = snap.specFields.filter(_.isIdentity)
    val hivePlaced: Boolean =
      if (idFields.isEmpty) false
      else if (nonIdentity.nonEmpty) {
        idFields.foreach { sf =>
          resolved.foreach { case (p, _) =>
            require(carries(p, sf),
              s"data file $p lacks identity partition source " +
                s"'${sf.sourceCol}' while the spec also has non-identity " +
                "transforms — mixed hive/flat layouts are refused")
          }
        }
        false
      } else {
        val carried = resolved.map { case (p, _) =>
          val present = idFields.count(sf => carries(p, sf))
          require(present == 0 || present == idFields.size,
            s"data file $p carries only part of the identity partition " +
              s"sources ${snap.partitionSourceCols.mkString(", ")} — " +
              "mixed layouts are refused (silent null-fill hazard)")
          present > 0
        }
        require(carried.forall(_ == carried.head),
          "some data files carry the identity partition sources and " +
            "some rely on manifest partition values — mixed tables are " +
            "refused (silent null-fill hazard)")
        !carried.head
      }
    // hive segment (k=v) per file from the manifest partition record,
    // typed per the source column (dates ride Avro as epoch days)
    def hiveSegs(f: DataFileRef): Seq[String] =
      if (!hivePlaced) Nil
      else snap.identityFields.map { case (specName, srcCol) =>
        val raw = f.partition.getOrElse(specName, null)
        val v: Any = (raw, snap.schema(snap.schema.fieldIndex(srcCol))
            .dataType) match {
          case (null, _) => null
          case (i: Int, DateType) =>
            java.time.LocalDate.ofEpochDay(i.toLong).toString
          case (x, DateType) => throw new IllegalArgumentException(
            s"date partition value of unexpected shape: $x")
          case (x, _) => x
        }
        ManagedTable.partitionSegment(srcCol, v)
      }
    // one adopted-uuid dir; source path segments flatten into the name
    // (same collision rule as the Delta import's non-hive layout)
    val uuid = java.util.UUID.randomUUID().toString
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val links = resolved.map { case (src, f) =>
      val base = src.toString.split('/').filter(_.nonEmpty).takeRight(3)
        .mkString("-")
      val segs = hiveSegs(f)
      val key = (segs :+ base).mkString("/")
      val n = seen.getOrElse(key, 0)
      seen(key) = n + 1
      val name =
        if (n == 0) base
        else base.stripSuffix(".parquet") + s"-dup$n.parquet"
      (src, f, (uuid +: segs :+ name).mkString("/"))
    }

    // POSITION DELETES adopt into the native DV sidecar: the delete
    // parquet rows (file_path, pos) are read DISTRIBUTED, mapped to the
    // adopted relative paths via one broadcast join against the
    // O(files) path map, dedup'd, and handed to adoptFiles the same way
    // the Delta DV import hands its decoded bitmaps. Delete rows whose
    // file_path matches no live data file are DANGLING (their target
    // was compacted away without rewriting the delete file) and are
    // ignored, per the spec's reader rule.
    val relByRaw: Map[String, String] =
      links.map { case (_, f, rel) => f.path -> rel }.toMap
    // persisted through the integrity count, the masked-path pull, and
    // adoptFiles' sidecar write — without it the delete files would be
    // re-read from disk three times
    var delRowsCached: Option[org.apache.spark.sql.DataFrame] = None
    val dv: Option[ManagedTable.AdoptedDv] =
      if (snap.deleteFiles.isEmpty) None
      else {
        val delPaths = snap.deleteFiles.map(f =>
          resolvePath(f.path, location, tableDir).toString)
        val delSchema = StructType(Seq(
          StructField("file_path", StringType, nullable = false),
          StructField("pos", LongType, nullable = false)))
        val delRows = spark.read.schema(delSchema).parquet(delPaths: _*)
          .persist()
        delRowsCached = Some(delRows)
        val claimed = snap.deleteFiles.map(_.recordCount).sum
        val got = delRows.count()
        require(got == claimed,
          s"Iceberg position-delete integrity failure: delete manifests " +
            s"claim $claimed rows, the delete files carry $got")
        val mapDf = spark.createDataFrame(
          relByRaw.toSeq.map { case (k, v) => Row(k, v) }.asJava,
          StructType(Seq(
            StructField("file_path", StringType, nullable = false),
            StructField("__rel", StringType, nullable = false))))
        val matched = delRows.join(broadcast(mapDf), Seq("file_path"))
          .select(col("__rel").as("path"), col("pos")).distinct()
        val maskedRel = delRows.select("file_path").distinct()
          .collect().map(_.getString(0)).flatMap(relByRaw.get).toSet
        if (maskedRel.isEmpty) None
        // nRows: the verified delete-file row count (an upper bound on
        // the post-distinct mask) sizes the sidecar write's shard count
        else Some(ManagedTable.AdoptedDv(matched, maskedRel, got))
      }

    val tbl = ManagedTable.adoptFiles(spark, targetPath,
      links.map { case (src, _, rel) => (src, rel) },
      schema = commitSchema,
      partitionBy = if (hivePlaced) snap.partitionSourceCols else Nil,
      properties = snap.properties,
      dv = dv)
    delRowsCached.foreach(_.unpersist())
    val masked = tbl.currentFileStats.flatMap(_.dvRows).sum
    val expected = snap.files.map(_.recordCount).sum - masked
    val got = tbl.numRows
    require(got == expected,
      s"Iceberg import integrity failure: manifests claim $expected live " +
        s"rows (${snap.files.map(_.recordCount).sum} written - $masked " +
        s"position-deleted), parquet footers carry $got — metadata and " +
        "data disagree")
    tbl
  }

  // ---- export ----------------------------------------------------------

  /** Spark type -> Iceberg schema-JSON type (ids assigned by `nextId`). */
  private def toIcebergType(dt: DataType, nextId: () => Int): Object =
    dt match {
      case BooleanType => "boolean"
      case IntegerType | ShortType | ByteType => "int"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case DateType => "date"
      case TimestampNTZType => "timestamp"
      case TimestampType => "timestamptz"
      case StringType => "string"
      case BinaryType => "binary"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case s: StructType =>
        val o = mapper.createObjectNode()
        o.put("type", "struct")
        val fs = o.putArray("fields")
        s.fields.foreach { f =>
          val fo = fs.addObject()
          fo.put("id", nextId())
          fo.put("name", f.name)
          fo.put("required", !f.nullable)
          putType(fo, "type", toIcebergType(f.dataType, nextId))
        }
        o
      case a: ArrayType =>
        val o = mapper.createObjectNode()
        o.put("type", "list")
        o.put("element-id", nextId())
        o.put("element-required", !a.containsNull)
        putType(o, "element", toIcebergType(a.elementType, nextId))
        o
      case m: MapType =>
        val o = mapper.createObjectNode()
        o.put("type", "map")
        o.put("key-id", nextId())
        o.put("value-id", nextId())
        o.put("value-required", !m.valueContainsNull)
        putType(o, "key", toIcebergType(m.keyType, nextId))
        putType(o, "value", toIcebergType(m.valueType, nextId))
        o
      case other => throw new IllegalArgumentException(
        s"cannot export column type $other to Iceberg")
    }

  private def putType(o: ObjectNode, field: String, t: Object): Unit =
    t match {
      case s: String => o.put(field, s); ()
      case n: JsonNode => o.set(field, n); ()
    }

  /** Export the table's CURRENT snapshot as an Iceberg v2 table at
    * `targetDir` — ZERO-COPY for data: the metadata references the
    * managed table's live data files by absolute `file:` URI (Iceberg
    * paths are location-independent URIs by spec), so no row mass
    * moves; only O(files) Avro/JSON metadata is written. Identity
    * partitioning is carried over (partition values from the hive
    * layout typed per the schema); the data files of a hive-partitioned
    * managed table do not contain the partition columns, which is
    * exactly the layout the spec's COLUMN PROJECTION rule exists for —
    * Iceberg readers resolve identity values from the manifest
    * partition record (and [[importTable]] round-trips them the same
    * way).
    *
    * DELETION-VECTOR snapshots of an UNPARTITIONED table export as v2
    * POSITION DELETES (merge-on-read, the spec's own expression of a
    * mask): the sidecar's (path, pos) rows become one spec-shaped
    * position-delete parquet — columns `file_path`/`pos` under the
    * reserved field ids, sorted by (file_path, pos) as the spec
    * requires — referenced from a delete manifest (content=1) beside
    * the data manifest. That is O(deleted rows) of new bytes; the data
    * files still never move. DV snapshots of PARTITIONED tables refuse
    * loud (their delete manifests would need partition-scoped entries
    * this exporter does not write — run OPTIMIZE to materialize
    * first). Readers: any Iceberg client that speaks HadoopTables
    * layout (`metadata/v1.metadata.json` + `version-hint.text`).
    *
    * @return number of data files referenced
    */
  def exportTable(table: ManagedTable, targetDir: String): Long = {
    val stats = table.currentFileStats
    val dvStats = stats.filter(_.dv.isDefined)
    require(dvStats.isEmpty || table.partitionColumns.isEmpty,
      "cannot export deletion-vector snapshots of a PARTITIONED table " +
        "to Iceberg (delete manifests would need partition-scoped " +
        "entries); run OPTIMIZE to materialize first")
    val root = Paths.get(targetDir)
    require(!Files.exists(root) || {
      val s = Files.list(root); try !s.iterator().hasNext finally s.close()
    }, s"exportTable target exists and is not empty: $targetDir")
    val metaDir = root.resolve("metadata")
    Files.createDirectories(metaDir)
    val schema = table.schema
    val partCols = table.partitionColumns
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c missing from schema"))

    // ---- schema JSON field ids: positional (top-level 1..n first,
    // nested ids appended after — the Iceberg java writer's rule) for
    // id-LESS schemas. A schema that CARRIES parquet.field.id metadata
    // (an id-resolved import, possibly non-positional after drop/
    // late-add evolution) exports its METADATA ids instead: writeData
    // re-stamps exactly those ids into every data file, and external
    // Iceberg readers resolve columns BY ID, so positional metadata ids
    // that disagree with the stamped files would misbind or null-fill
    // silently — the silent-misread class the import side refuses
    // loudly. Partial coverage (some fields stamped, some not) refuses:
    // no assignment can agree with the files.
    val useMetaIds = ManagedTable.hasFieldIds(schema)
    var id = schema.fields.length
    val nextId = () => { id += 1; id }
    def metaIdOf(f: StructField, path: String): Int = {
      require(f.metadata.contains(FieldIdKey),
        s"cannot export: schema carries $FieldIdKey metadata but field " +
          s"$path lacks one — partial id coverage cannot agree with the " +
          "ids stamped in the data files")
      val v = f.metadata.getLong(FieldIdKey)
      require(v >= 1L && v <= Int.MaxValue.toLong,
        s"field $path has out-of-range $FieldIdKey $v")
      v.toInt
    }
    val usedMetaIds = scala.collection.mutable.ArrayBuffer.empty[Int]
    def toIcebergTypeMeta(dt: DataType, path: String): Object = dt match {
      case s: StructType =>
        val o = mapper.createObjectNode()
        o.put("type", "struct")
        val fs = o.putArray("fields")
        s.fields.foreach { f =>
          val fid = metaIdOf(f, s"$path.${f.name}")
          usedMetaIds += fid
          val fo = fs.addObject()
          fo.put("id", fid)
          fo.put("name", f.name)
          fo.put("required", !f.nullable)
          putType(fo, "type", toIcebergTypeMeta(f.dataType, s"$path.${f.name}"))
        }
        o
      case _: ArrayType | _: MapType =>
        // Spark field metadata cannot carry list-element / map-key/value
        // ids, so an id-bearing schema's collection ids cannot be proven
        // to match the stamped files — refuse rather than guess
        throw new IllegalArgumentException(
          s"cannot export collection-typed field $path from an " +
            "id-bearing schema: element/key/value ids are not " +
            "representable in Spark field metadata")
      case prim => toIcebergType(prim, nextId) // primitives consume no ids
    }
    val schemaNode = mapper.createObjectNode()
    schemaNode.put("type", "struct")
    schemaNode.put("schema-id", 0)
    val sf = schemaNode.putArray("fields")
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val fid =
        if (useMetaIds) { val x = metaIdOf(f, f.name); usedMetaIds += x; x }
        else i + 1
      val fo = sf.addObject()
      fo.put("id", fid)
      fo.put("name", f.name)
      fo.put("required", !f.nullable)
      putType(fo, "type",
        if (useMetaIds) toIcebergTypeMeta(f.dataType, f.name)
        else toIcebergType(f.dataType, nextId))
    }
    if (useMetaIds)
      require(usedMetaIds.distinct.size == usedMetaIds.size,
        s"cannot export: duplicate $FieldIdKey values in schema " +
          s"(${usedMetaIds.groupBy(identity).collect {
            case (k, vs) if vs.size > 1 => k }.toSeq.sorted.mkString(", ")})")
    val fieldId = schema.fields.zipWithIndex.map { case (f, i) =>
      f.name -> (if (useMetaIds) metaIdOf(f, f.name) else i + 1)
    }.toMap

    // ---- partition spec (identity over the table's partition columns)
    val specNode = mapper.createObjectNode()
    specNode.put("spec-id", 0)
    val spf = specNode.putArray("fields")
    partCols.zipWithIndex.foreach { case (c, i) =>
      val fo = spf.addObject()
      fo.put("name", c)
      fo.put("transform", "identity")
      fo.put("source-id", fieldId(c))
      fo.put("field-id", 1000 + i)
    }

    // ---- manifest (one, all files ADDED)
    val partFieldsJson = partCols.zipWithIndex.map { case (c, i) =>
      val tjson = schema(schema.fieldIndex(c)).dataType match {
        case StringType => "\"string\""
        case IntegerType => "\"int\""
        case LongType => "\"long\""
        case BooleanType => "\"boolean\""
        case DateType => """{"type":"int","logicalType":"date"}"""
        case other => throw new IllegalArgumentException(
          s"identity partition column $c of type $other not exportable")
      }
      s"""{"name":"$c","type":["null",$tjson],"default":null,"field-id":${1000 + i}}"""
    }
    val partRecord =
      s"""{"type":"record","name":"r102","fields":[${partFieldsJson.mkString(",")}]}"""
    val manifestEntrySchema =
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |{"name":"content","type":"int","field-id":134},
         |{"name":"file_path","type":"string","field-id":100},
         |{"name":"file_format","type":"string","field-id":101},
         |{"name":"partition","type":$partRecord,"field-id":102},
         |{"name":"record_count","type":"long","field-id":103},
         |{"name":"file_size_in_bytes","type":"long","field-id":104}
         |]},"field-id":2}]}""".stripMargin.replace("\n", "")

    def partValue(c: String, raw: String): Any = {
      if (raw == null) return null
      schema(schema.fieldIndex(c)).dataType match {
        case StringType => raw
        case IntegerType => raw.toInt
        case LongType => raw.toLong
        case BooleanType => java.lang.Boolean.parseBoolean(raw)
        case DateType => java.sql.Date.valueOf(raw).toLocalDate.toEpochDay.toInt
        case other => throw new IllegalArgumentException(s"$other")
      }
    }
    def entryOf(content: Int, path: String, rows: Long,
                bytes: Long, partition: Map[String, Any]): Any =
      Map[String, Any](
        "status" -> 1,
        "snapshot_id" -> 1L,
        "sequence_number" -> null,
        "file_sequence_number" -> null,
        "data_file" -> Map[String, Any](
          "content" -> content,
          "file_path" -> path,
          "file_format" -> "PARQUET",
          "partition" -> partition,
          "record_count" -> rows,
          "file_size_in_bytes" -> bytes))
    val entries: Seq[Any] = stats.map { f =>
      val abs = table.dataFilePath(f.path).toAbsolutePath
      val pv = table.hivePartitionValues(f).toMap
      entryOf(0, s"file://$abs", f.rows, f.bytes,
        partCols.map(c => c -> partValue(c, pv.getOrElse(c, null))).toMap)
    }
    val manifestPath = metaDir.resolve("graft-m0.avro")
    val mout = Files.newOutputStream(manifestPath)
    val manifestMeta = Map(
      "schema" -> mapper.writeValueAsString(schemaNode),
      "partition-spec" -> mapper.writeValueAsString(specNode.get("fields")),
      "partition-spec-id" -> "0",
      "format-version" -> "2")
    try Avro.writeContainer(mout, manifestEntrySchema, entries,
      manifestMeta + ("content" -> "data"))
    finally mout.close()
    val manifestLen = Files.size(manifestPath)

    // ---- position-delete leg (DV snapshots, unpartitioned):
    // spec-shaped delete parquet sorted by (file_path, pos) under the
    // reserved field ids, referenced by a delete manifest. The spec
    // explicitly allows MANY delete files, so the write range-
    // partitions into a bounded shard count derived from the mask's
    // row count (ManagedTable.dvShardCount — no O(deleted rows)
    // single-task funnel); each shard is globally range-disjoint and
    // sorted within, so every written file satisfies the spec's
    // (file_path, pos) ordering rule, and each gets its own manifest
    // entry. Small masks keep the single-file layout.
    val deleteLeg: Seq[(Path, Long, Long)] = if (dvStats.isEmpty) Nil
    else {
      val spark = table.toDF.sparkSession
      val uriByRel = stats.map(f =>
        f.path -> s"file://${table.dataFilePath(f.path).toAbsolutePath}")
      val mapDf = spark.createDataFrame(
        uriByRel.map { case (k, v) => Row(k, v) }.asJava,
        StructType(Seq(
          StructField("path", StringType, nullable = false),
          StructField("__uri", StringType, nullable = false))))
      val outSchema = StructType(Seq(
        StructField("file_path", StringType, nullable = false,
          metadata = new MetadataBuilder()
            .putLong(FieldIdKey, PosDeletePathId).build()),
        StructField("pos", LongType, nullable = false,
          metadata = new MetadataBuilder()
            .putLong(FieldIdKey, PosDeletePosId).build())))
      val posDel = table.currentDvRows
        .join(broadcast(mapDf), Seq("path"))
        .select(col("__uri").as("file_path"), col("pos")).persist()
      // manifest record_count = the rows actually in the delete file,
      // counted from the frame it is written from
      val delCount = posDel.count()
      val nShards = graft.tables.ManagedTable.dvShardCount(spark, delCount)
      val sorted = posDel
        .repartitionByRange(nShards, col("file_path"), col("pos"))
        .sortWithinPartitions("file_path", "pos")
      val withIds = spark.createDataFrame(sorted.rdd, outSchema)
      val tmpOut = root.resolve(s"_tmp-posdel-${java.util.UUID.randomUUID()}")
      val prevWrite =
        spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      try withIds.write.parquet(tmpOut.toString)
      finally prevWrite match {
        case Some(v) =>
          spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
      }
      // part-file names ascend with partition id and range partitions
      // ascend with the sort key, so moving in name order preserves the
      // global (file_path, pos) order across the shard files
      val parts = {
        val s = Files.list(tmpOut)
        try s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString)
        finally s.close()
      }
      require(parts.nonEmpty, s"no parquet part written under $tmpOut")
      val dataDir = root.resolve("data")
      Files.createDirectories(dataDir)
      val moved = parts.zipWithIndex.map { case (part, i) =>
        val target = dataDir.resolve(
          f"graft-pos-delete-$i%05d-${java.util.UUID.randomUUID()}.parquet")
        Files.move(part, target)
        // manifest record_count = the rows actually in each delete file,
        // read from its own footer (one O(shards) driver pass)
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(target.toUri),
          spark.sessionState.newHadoopConf())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val rows =
          try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
          finally r.close()
        (target, rows, Files.size(target))
      }
      require(moved.map(_._2).sum == delCount,
        s"position-delete export drifted: wrote ${moved.map(_._2).sum} " +
          s"rows across ${moved.size} files, mask carries $delCount")
      // clear the temp dir (part crc/_SUCCESS markers)
      val leftovers = Files.walk(tmpOut)
      try leftovers.iterator().asScala.toSeq.reverse.foreach(p =>
        try Files.delete(p) catch { case _: java.io.IOException => () })
      finally leftovers.close()
      posDel.unpersist()
      moved
    }
    val deleteManifest: Option[(Path, Long, Long)] =
      if (deleteLeg.isEmpty) None
      else {
        val p = metaDir.resolve("graft-del-m0.avro")
        val out = Files.newOutputStream(p)
        try Avro.writeContainer(out, manifestEntrySchema,
          deleteLeg.map { case (delFile, rows, bytes) =>
            entryOf(1, s"file://${delFile.toAbsolutePath}", rows, bytes,
              Map.empty)
          },
          manifestMeta + ("content" -> "deletes"))
        finally out.close()
        Some((p, deleteLeg.map(_._2).sum, Files.size(p)))
      }

    // ---- manifest list
    val manifestListSchema =
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string","field-id":500},
        |{"name":"manifest_length","type":"long","field-id":501},
        |{"name":"partition_spec_id","type":"int","field-id":502},
        |{"name":"content","type":"int","field-id":517},
        |{"name":"sequence_number","type":"long","field-id":515},
        |{"name":"min_sequence_number","type":"long","field-id":516},
        |{"name":"added_snapshot_id","type":"long","field-id":503},
        |{"name":"added_files_count","type":"int","field-id":504},
        |{"name":"existing_files_count","type":"int","field-id":505},
        |{"name":"deleted_files_count","type":"int","field-id":506},
        |{"name":"added_rows_count","type":"long","field-id":512},
        |{"name":"existing_rows_count","type":"long","field-id":513},
        |{"name":"deleted_rows_count","type":"long","field-id":514}
        |]}""".stripMargin.replace("\n", "")
    def listEntry(path: Path, length: Long, content: Int, files: Int,
                  rows: Long): Map[String, Any] = Map[String, Any](
      "manifest_path" -> s"file://${path.toAbsolutePath}",
      "manifest_length" -> length,
      "partition_spec_id" -> 0,
      "content" -> content,
      "sequence_number" -> 1L,
      "min_sequence_number" -> 1L,
      "added_snapshot_id" -> 1L,
      "added_files_count" -> files,
      "existing_files_count" -> 0,
      "deleted_files_count" -> 0,
      "added_rows_count" -> rows,
      "existing_rows_count" -> 0L,
      "deleted_rows_count" -> 0L)
    val listPath = metaDir.resolve("snap-1-1-graft.avro")
    val lout = Files.newOutputStream(listPath)
    try Avro.writeContainer(lout, manifestListSchema,
      listEntry(manifestPath, manifestLen, 0, stats.size,
        stats.map(_.rows).sum) +:
        deleteManifest.toSeq.map { case (p, delCount, len) =>
          listEntry(p, len, 1, deleteLeg.size, delCount)
        })
    finally lout.close()

    // ---- table metadata json + version hint
    val md = mapper.createObjectNode()
    md.put("format-version", 2)
    md.put("table-uuid", java.util.UUID
      .nameUUIDFromBytes(targetDir.getBytes("UTF-8")).toString)
    md.put("location", root.toAbsolutePath.toString)
    md.put("last-sequence-number", 1L)
    md.put("last-updated-ms", 1L)
    md.put("last-column-id",
      if (useMetaIds) usedMetaIds.max else id)
    md.put("current-schema-id", 0)
    md.set[ObjectNode]("schemas",
      mapper.createArrayNode().add(schemaNode))
    md.put("default-spec-id", 0)
    md.set[ObjectNode]("partition-specs",
      mapper.createArrayNode().add(specNode))
    md.put("last-partition-id", 1000 + math.max(partCols.size - 1, 0))
    md.put("default-sort-order-id", 0)
    val so = mapper.createObjectNode()
    so.put("order-id", 0)
    so.putArray("fields")
    md.set[ObjectNode]("sort-orders", mapper.createArrayNode().add(so))
    val props = md.putObject("properties")
    table.properties.foreach { case (k, v) => props.put(k, v) }
    md.put("current-snapshot-id", 1L)
    val snaps = md.putArray("snapshots")
    val sn = snaps.addObject()
    sn.put("snapshot-id", 1L)
    sn.put("timestamp-ms", 1L)
    sn.put("sequence-number", 1L)
    sn.put("manifest-list", s"file://${listPath.toAbsolutePath}")
    val summary = sn.putObject("summary")
    summary.put("operation",
      if (deleteLeg.nonEmpty) "overwrite" else "append")
    sn.put("schema-id", 0)
    Files.writeString(metaDir.resolve("v1.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(md))
    Files.writeString(metaDir.resolve("version-hint.text"), "1")
    stats.size.toLong
  }
}
