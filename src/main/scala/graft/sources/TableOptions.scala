package graft.sources

import org.apache.spark.sql.types._

/**
 * The options of one table, as persisted in its manifest (Paimon's
 * CoreOptions, which the reference surfaces as DDL through
 * TrinoTableOptionUtils / TrinoTableOptions), read through typed
 * accessors. Parsing is lazy and lenient, as reads must be: a manifest
 * written before a check existed opens exactly as it was written, and
 * a malformed value fails only the operation that uses it.
 */
final class TableOptions(val raw: Map[String, String]) {
  import TableOptions._

  private def get(o: Opt): Option[String] = raw.get(o.key).orElse(o.default)
  private def flag(o: Opt): Boolean = get(o).contains("true")
  private def int(o: Opt): Option[Int] = get(o).map(_.toInt)

  def bucket: Option[Int] = int(Bucket)
  def dynamicBucket: Boolean = raw.get(Bucket.key).contains("-1")
  def indexFoldDeltas: Int = int(IndexFoldDeltas).get
  def dynamicTargetRows: Long = get(DynamicTargetRows).get.toLong
  def mergeEngine: String = get(MergeEngine).get
  def sequenceField: Option[String] = get(SequenceField)
  def rowkindField: Option[String] = get(RowkindField)
  def ignoreDelete: Boolean = flag(IgnoreDelete)
  def fileFormat: String = get(FileFormat).get
  def fileCompression: Option[String] = get(FileCompression)
  def deletionVectors: Boolean = flag(DeletionVectors)
  def changelogProducer: String = get(ChangelogProducer).get
  /** Columns to bloom-index, lower-cased. */
  def bloomColumns: Set[String] = get(BloomColumns).map(list(_).map(_.toLowerCase).toSet)
    .getOrElse(Set.empty)
  /** `<engine>.remove-record-on-delete` of the table's OWN engine. */
  def removeRecordOnDelete: Boolean = RemoveRecordOnDelete.get(mergeEngine).exists(flag)
  /** Partial-update sequence groups: group sequence column → members. */
  def sequenceGroups: Map[String, Seq[String]] = raw.collect {
    case (k, v) if declFor(k).contains(SequenceGroup) => SequenceGroup.field(k) -> list(v)
  }
  def fieldAggregate(f: String): String =
    raw.getOrElse(FieldAggregate.keyFor(f), FieldAggregate.default.get)
  def fieldCollectDistinct(f: String): Boolean =
    raw.get(FieldDistinct.keyFor(f)).contains("true")
  def fieldNestedKeys(f: String): Seq[String] =
    raw.get(FieldNestedKey.keyFor(f)).map(list).getOrElse(Seq.empty)

  // maintenance, run after each commit (GraftMaintenance)
  def writeOnly: Boolean = flag(WriteOnly)
  def maxFileDirs: Option[Int] = int(MaxFileDirs)
  def sortedRunTrigger: Option[Int] = int(SortedRunTrigger)
  def fullCompactionDeltaCommits: Option[Int] = int(FullCompactionDeltaCommits)
  def dvBuildDeltaCommits: Option[Int] = int(DvBuildDeltaCommits)
  def minSmallFiles: Option[Int] = int(MinSmallFiles)
  def smallBytes: Long = get(SmallBytes).get.toLong
  def snapshotNumRetained: Option[Int] = int(SnapshotNumRetained)
  def snapshotTimeRetainedMs: Option[Long] =
    get(SnapshotTimeRetained).map(GraftCatalog.parseDurationMillis)
  def autoTags: Boolean = get(TagAutomaticCreation).contains("process-time")
  def tagPeriod: String = get(TagCreationPeriod).get
  def tagNumRetainedMax: Option[Int] = int(TagNumRetainedMax)
  def partitionExpirationMs: Option[Long] =
    get(PartitionExpirationTime).map(GraftCatalog.parseDurationMillis)
  def partitionExpirationColumn: Option[String] = get(PartitionExpirationColumn)
}

/**
 * The table-option registry: every option graft interprets, or option
 * pattern (`fields.<f>.<suffix>`), is declared here once, with its
 * default, whether it may change after create, its check against the
 * table's schema, partition columns, primary key and the other options,
 * and whether its value names columns. Everything that handles options
 * goes through it: [[GraftCatalog.createTable]] and set/unset run
 * [[validate]] on the map the table would have; column DDL renames or
 * refuses through [[renamed]] / [[columnsOf]]; readers use the typed
 * view above. Keys the registry does not declare pass through
 * unchecked; every `fields.*` key is declared (an unknown suffix is
 * checked as an aggregate function, and refused).
 */
object TableOptions {

  def apply(raw: Map[String, String]): TableOptions = new TableOptions(raw)

  /** What a check sees: the table's shape and its whole option map. */
  final case class Shape(schema: StructType, partitions: Seq[String],
      primaryKey: Seq[String], options: Map[String, String]) {
    val view = TableOptions(options)
    def is(k: String, v: String): Boolean = options.get(k).contains(v)
    def is(o: Opt, v: String): Boolean = is(o.key, v)
  }

  private val FieldPrefix = "fields."

  /** One declared option, or with a `fields.<f>` key a pattern over
    * columns `f` (the key names its column). `namesColumns`: the value
    * is a comma list of column names. */
  final class Opt private[TableOptions] (val key: String,
      val default: Option[String], val mutable: Boolean,
      namesColumns: Boolean, check: (Shape, String, String) => Unit,
      after: Shape => Unit) {
    val pattern: Boolean = key.startsWith(FieldPrefix + "<f>")
    private val suffix = key.stripPrefix(FieldPrefix + "<f>")
    def keyFor(f: String): String = FieldPrefix + f + suffix
    def field(k: String): String = k.stripPrefix(FieldPrefix).stripSuffix(suffix)
    private[TableOptions] def matches(k: String): Boolean =
      if (pattern) k.startsWith(FieldPrefix) && k.endsWith(suffix) else k == key
    private[TableOptions] def validate(s: Shape): Unit = {
      s.options.foreach { case (k, v) => if (declFor(k).contains(this)) check(s, k, v) }
      after(s)
    }
    /** Column names option `k = v` references. */
    private[TableOptions] def columns(k: String, v: String): Seq[String] =
      (if (pattern) Seq(field(k)) else Nil) ++ (if (namesColumns) list(v) else Nil)
    private[TableOptions] def renamed(k: String, v: String,
        r: String => String): (String, String) =
      (if (pattern) keyFor(r(field(k))) else k,
        if (namesColumns) list(v).map(r).mkString(",") else v)
  }

  private val declared = scala.collection.mutable.ArrayBuffer.empty[Opt]

  private def opt(key: String, default: Option[String] = None,
      mutable: Boolean = true, namesColumns: Boolean = false,
      after: Shape => Unit = _ => ())(
      check: (Shape, String, String) => Unit): Opt = {
    val o = new Opt(key, default, mutable, namesColumns, check, after)
    declared += o
    o
  }

  private def list(v: String): Seq[String] =
    v.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private def bool(k: String, v: String): Unit =
    require(v == "true" || v == "false", s"$k must be true or false, got $v")

  private def intAtLeast(min: Int)(s: Shape, k: String, v: String): Unit =
    require(v.toIntOption.exists(_ >= min), s"$k must be an int >= $min, got $v")

  // Declaration order is check order: a create with several bad options
  // reports the first in this order.

  /** Paimon's bucket layout: `n >= 1` fixed hash buckets, `-1` dynamic
    * (a persisted hash index assigns keys to buckets that fill to
    * `dynamic-bucket.target-row-num` keys). */
  val Bucket: Opt = opt("bucket", mutable = false) { (s, _, b) =>
    require(s.primaryKey.nonEmpty, "bucket option requires a primary key")
    require(b.toInt >= 1 || b.toInt == -1,
      s"bucket must be >= 1 (fixed) or -1 (dynamic), got $b")
    if (s.partitions.nonEmpty) {
      // Paimon's combined layout: `part=v/__bucket=k` dirs. With a FIXED
      // bucket count the PK-table rule (partition ⊆ primary key)
      // guarantees a key lives in exactly one partition, so per-bucket
      // merge legs stay key-disjoint across partitions. DYNAMIC bucket
      // mode lifts that rule — Paimon's CROSS-PARTITION UPSERT: the
      // persisted index records each key's current (partition, bucket),
      // an upsert whose partition differs tombstones the old partition's
      // row in the same atomic snapshot, and the merge keys on
      // (pk, partition) so each residence resolves independently.
      if (b.toInt != -1)
        require(s.partitions.forall(s.primaryKey.contains),
          "bucketed partitioned tables require every partition column to " +
            "be part of the primary key (a key must live in exactly one " +
            "partition); for keys that MOVE between partitions use " +
            "dynamic bucket mode (bucket = -1, cross-partition upsert)")
      else if (!s.partitions.forall(s.primaryKey.contains)) {
        // cross-partition mode restrictions (v1): commit-order version
        // races only — a user sequence column cannot arbitrate a move's
        // tombstone, and the changelog/incremental protocols key per pk,
        // which a same-ordinal move pair would tie.
        require(!s.options.contains(SequenceField.key),
          "cross-partition upsert tables (partition not in primary key) " +
            "do not support sequence.field")
        require(s.view.mergeEngine == "deduplicate",
          "cross-partition upsert tables support only the deduplicate " +
            "merge engine")
      }
    }
    require(!s.schema.fieldNames.contains(GraftCatalog.BucketCol),
      s"column name ${GraftCatalog.BucketCol} is reserved on bucketed tables")
  }

  /** Dynamic-bucket index deltas that trigger a fold (0 disables). */
  val IndexFoldDeltas: Opt = opt("dynamic-bucket.index-fold.deltas", Some("32")) {
    (s, k, t) =>
      require(s.is(Bucket, "-1"), s"$k applies to dynamic-bucket (bucket = -1) tables")
      require(t.toInt >= 0, s"$k must be >= 0 (0 disables), got $t")
  }

  /** Keys per dynamic bucket (Paimon's default). */
  val DynamicTargetRows: Opt = opt("dynamic-bucket.target-row-num", Some("2000000")) {
    (s, k, t) =>
      require(s.is(Bucket, "-1"), s"$k applies to dynamic-bucket (bucket = -1) tables")
      require(t.toLong >= 1, s"$k must be >= 1, got $t")
  }

  /** PK-table merge engines (Paimon's `merge-engine`): how versions of
    * one key resolve. The in-task bucketed merge implements deduplicate
    * only. */
  val MergeEngines: Set[String] =
    Set("deduplicate", "partial-update", "aggregation", "first-row")

  val MergeEngine: Opt = opt("merge-engine", Some("deduplicate"), mutable = false) {
    (s, _, e) =>
      require(MergeEngines.contains(e),
        s"merge-engine must be one of ${MergeEngines.mkString(", ")}, got $e")
      require(s.primaryKey.nonEmpty, "merge-engine requires a primary key")
      require(e == "deduplicate" || !s.options.contains(Bucket.key),
        "bucketed tables support only the deduplicate merge engine")
  }

  /** Paimon's `sequence.field`: a USER column, not commit order, decides
    * which version of a key wins (late CDC updates cannot clobber newer
    * state). Largest wins; ties fall back to commit order; NULL sorts
    * smallest. Deduplicate only: field-wise engines fold every version. */
  val SequenceField: Opt = opt("sequence.field", mutable = false, namesColumns = true) {
    (s, _, f) =>
      require(s.primaryKey.nonEmpty, "sequence.field requires a primary key")
      val fld = s.schema.fields.find(_.name == f)
      require(fld.isDefined, s"sequence.field column $f not in schema")
      require(!s.primaryKey.contains(f),
        s"sequence.field $f cannot be a primary-key column")
      require(!s.partitions.contains(f),
        s"sequence.field $f cannot be a partition column")
      require(s.view.mergeEngine == "deduplicate",
        "sequence.field applies to the deduplicate merge engine only")
      val dt = fld.get.dataType
      require(dt.isInstanceOf[NumericType] || dt == DateType ||
        dt == TimestampType || dt == StringType,
        s"sequence.field $f: ${dt.simpleString} is not an orderable " +
          "sequence type (numeric/date/timestamp/string)")
  }

  /** Paimon's `rowkind.field`: a STRING column of the table carries each
    * record's CDC kind — `-D`/`-U` rows retract, the rest upsert. On the
    * aggregation engine retraction needs every aggregated field's
    * function to retract exactly ([[GraftCatalog.retractableField]]), or
    * remove-record-on-delete; ignore-delete drops retractions;
    * partial-update has no retract path. The rowkind column itself is
    * excluded case-insensitively, as the write-time retract gate does. */
  val RowkindField: Opt = opt("rowkind.field", namesColumns = true) { (s, _, f) =>
    require(s.primaryKey.nonEmpty, "rowkind.field requires a primary key")
    val fld = s.schema.fields.find(_.name == f)
    require(fld.isDefined, s"rowkind.field column $f not in schema")
    require(!s.primaryKey.contains(f),
      s"rowkind.field $f cannot be a primary-key column")
    require(fld.get.dataType == StringType,
      s"rowkind.field $f must be a string column, got " +
        fld.get.dataType.simpleString)
    val engine = s.view.mergeEngine
    val aggRetractable = engine == "aggregation" && (
      s.is(RemoveRecordOnDelete(engine), "true") ||
        s.schema.fields.filterNot(fd => s.primaryKey.contains(fd.name))
          .filterNot(_.name.equalsIgnoreCase(f)).forall(fd =>
            GraftCatalog.retractableField(s.view.fieldAggregate(fd.name), fd.dataType)))
    val puRemoves = engine == "partial-update" &&
      s.is(RemoveRecordOnDelete(engine), "true")
    require(engine == "deduplicate" || s.is(IgnoreDelete, "true") ||
      aggRetractable || puRemoves,
      "rowkind.field on a field-wise merge engine requires " +
        "ignore-delete=true, <engine>.remove-record-on-delete=true, " +
        "or retractable aggregate functions (sum/collect) on every " +
        "aggregated field")
  }

  /** Paimon's `ignore-delete`: retractions are dropped, not tombstoned
    * (the CDC-fed patch-table mode). */
  val IgnoreDelete: Opt = opt("ignore-delete", Some("false"))((_, k, v) => bool(k, v))

  /** Paimon's `file.format`. ORC and AVRO write through Spark's own
    * sources and serve every path unchanged through the format-aware
    * read/write seams; ORC footers carry zone statistics like parquet,
    * AVRO zones are collected from the data at write time. Deletion
    * vectors and bloom indexes are format-independent: ORC/AVRO DV
    * tables stamp [[GraftCatalog.OrcPosCol]] into every data file from
    * the first commit on (the option is immutable, so no file predates
    * the column). */
  val FileFormat: Opt = opt("file.format", Some("parquet"), mutable = false) { (_, _, f) =>
    require(f == "parquet" || f == "orc" || f == "avro",
      s"file.format must be parquet, orc or avro, got $f")
  }

  /** Paimon's `file.compression`: a codec the format's Spark writer takes. */
  val FileCompression: Opt = opt("file.compression") { (s, _, c) =>
    val fmt = s.view.fileFormat
    val valid = fmt match {
      case "orc" => Set("none", "snappy", "zlib", "zstd", "lz4")
      case "avro" => Set("uncompressed", "snappy", "deflate", "bzip2",
        "xz", "zstandard")
      case _ => Set("none", "uncompressed", "snappy", "gzip", "zstd", "lz4")
    }
    require(valid(c.toLowerCase(java.util.Locale.ROOT)),
      s"file.compression '$c' is not a valid $fmt codec " +
        s"(${valid.toSeq.sorted.mkString(", ")})")
  }

  // Retention (Paimon's snapshot.num-retained / snapshot.time-retained)
  // and compaction triggers, applied after every commit (autoExpire /
  // autoMaintain).
  val SnapshotNumRetained: Opt = opt("snapshot.num-retained") { (_, _, v) =>
    require(v.toIntOption.exists(_ >= 1),
      s"snapshot.num-retained must be a positive int, got $v")
  }
  val SnapshotTimeRetained: Opt = opt("snapshot.time-retained") { (_, _, v) =>
    GraftCatalog.parseDurationMillis(v); ()
  }
  val MaxFileDirs: Opt = opt("compaction.max-file-dirs")(intAtLeast(2))
  val MinSmallFiles: Opt = opt("compaction.min.small-files")(intAtLeast(2))
  val SmallBytes: Opt = opt("compaction.small-bytes", Some((32L << 20).toString)) {
    (_, _, v) =>
      require(v.toLongOption.exists(_ > 0),
        s"compaction.small-bytes must be a positive long, got $v")
  }

  /** Paimon's `deletion-vectors.enabled`. Append-only tables delete and
    * update through per-file position indexes; PK tables build DVs at
    * compaction so reads skip the keep-latest merge below the build.
    * The PK mode pins the deduplicate engine (a build resolves
    * keep-latest), partition ⊆ primary key (a cross-partition move has
    * no per-ordinal split point) and a fixed bucket count. */
  val DeletionVectors: Opt = opt("deletion-vectors", Some("false"), mutable = false) {
    (s, k, v) =>
      bool(k, v)
      if (v == "true") {
        if (s.primaryKey.nonEmpty) {
          require(s.view.mergeEngine == "deduplicate",
            "deletion-vectors on a primary-key table requires " +
              "merge-engine=deduplicate (a DV build resolves keep-latest " +
              "semantics; field-wise engines fold values instead)")
          require(s.partitions.forall(s.primaryKey.contains),
            "deletion-vectors on a primary-key table requires partition " +
              "columns inside the primary key (cross-partition upsert has " +
              "no per-ordinal merge-free split point)")
          require(!s.is(Bucket, "-1"),
            "deletion-vectors on a primary-key table requires a fixed " +
              "bucket count (dynamic-bucket snapshots interleave hash-index " +
              "dirs the merge-free base/delta split cannot order)")
        }
        Seq(GraftCatalog.DvFileCol, GraftCatalog.DvPosCol, GraftCatalog.OrcPosCol)
          .foreach(c => require(!s.schema.fieldNames.contains(c),
            s"column name $c is reserved on deletion-vector tables"))
      }
  }

  /** `changelog-producer` modes (Paimon's ChangelogProducer): `none`
    * computes changelogs at read; `input` persists each commit's rows as
    * written, `lookup` full -U/+U/-D pairs per commit, `full-compaction`
    * the accumulated diff at each compact. */
  val ChangelogProducers: Set[String] =
    Set("none", "input", "lookup", "full-compaction")

  val ChangelogProducer: Opt = opt("changelog-producer", Some("none"), mutable = false) {
    (s, _, v) =>
      require(ChangelogProducers(v),
        s"changelog-producer must be one of " +
          s"${ChangelogProducers.toSeq.sorted.mkString(", ")}, got $v")
      if (v != "none") {
        require(s.primaryKey.nonEmpty,
          "changelog-producer requires a primary-key table (append-only " +
            "tables changelog as pure +I already — nothing to materialize)")
        // field-wise engines take lookup and full-compaction, which
        // materialize resolved images; `input` trusts the writer's rows
        // to BE the changelog, which a patch row is not
        if (s.view.mergeEngine != "deduplicate")
          require(v == "lookup" || v == "full-compaction",
            "changelog-producer=input requires merge-engine=deduplicate " +
              "(a field-wise engine's input row is a PATCH, not the " +
              "changelog image — use the lookup or full-compaction " +
              "producer, which materialize resolved-image pairs)")
      }
  }

  /** Paimon's `file-index.bloom-filter.columns`: per-file membership
    * bitsets for equality/IN lookups, on append-only tables (the path
    * readWhere prunes; PK lookups bucket-prune and MoR reads see every
    * delta). Columns match case-insensitively. */
  val BloomColumns: Opt = opt("file-index.bloom-filter.columns", namesColumns = true) {
    (s, k, v) =>
      val cols = list(v)
      require(cols.nonEmpty, s"$k must name at least one column")
      cols.foreach { c =>
        val f = s.schema.fields.find(_.name.equalsIgnoreCase(c))
        require(f.isDefined, s"bloom-filter column $c not in schema")
        require(BloomIndex.indexable(f.get.dataType),
          s"bloom-filter column $c: ${f.get.dataType.simpleString} has no " +
            "canonical bloom domain (integral/date/timestamp/string only)")
        require(!s.partitions.exists(_.equalsIgnoreCase(c)),
          s"bloom-filter column $c is a partition column (partition values " +
            "already prune via path-segment zones)")
      }
      require(s.primaryKey.isEmpty,
        "bloom-filter index applies to append-only tables (PK tables " +
          "point-look-up via bucket pruning; MoR reads must see every delta)")
  }

  /** Paimon's `fields.<seq-col>.sequence-group` (partial-update):
    * upstream streams own disjoint column groups, each versioned by its
    * own sequence column — a group updates only when a row carries a
    * larger group-sequence value. A column belongs to at most one group. */
  val SequenceGroup: Opt = opt("fields.<f>.sequence-group", mutable = false,
    namesColumns = true, after = { s =>
      val all = s.view.sequenceGroups.values.flatten.toSeq
      require(all.distinct.size == all.size,
        s"columns in multiple sequence-groups: ${all.diff(all.distinct).distinct.mkString(", ")}")
    }) { (s, k, v) =>
    val g = SequenceGroup.field(k)
    require(s.is(MergeEngine, "partial-update"),
      s"fields.$g.sequence-group requires merge-engine=partial-update")
    require(s.schema.fieldNames.contains(g) && !s.primaryKey.contains(g),
      s"sequence-group column $g unknown or a primary-key field")
    val members = list(v)
    require(members.nonEmpty, s"fields.$g.sequence-group names no fields")
    val groups = s.view.sequenceGroups.keySet
    members.foreach { f =>
      require(s.schema.fieldNames.contains(f) && !s.primaryKey.contains(f),
        s"sequence-group member $f unknown or a primary-key field")
      require(f != g, s"sequence-group column $g cannot be its own member")
      require(!groups.contains(f),
        s"sequence-group member $f is itself a sequence-group column")
    }
  }

  /** Per-field functions of the `aggregation` engine. Every member is
    * ASSOCIATIVE OVER PARTIALS — a compacted row holds the folded value
    * and later versions fold onto it — which is why Paimon's
    * non-associative `count` is absent: rows carrying 1 with `sum`
    * express it. */
  val FieldAggregates: Set[String] =
    Set("sum", "min", "max", "last_non_null", "bool_and", "bool_or",
      "product", "listagg", "first_value", "first_non_null", "last_value",
      "collect", "merge_map", "rbm32", "rbm64", "hll_sketch", "nested_update")

  /** Paimon's `fields.<f>.aggregate-function`. Also the check of every
    * other `fields.*` key no pattern declares (see [[declFor]]). */
  val FieldAggregate: Opt = opt("fields.<f>.aggregate-function", Some("last_non_null"),
    mutable = false) { (s, k, fn) =>
    require(s.is(MergeEngine, "aggregation"), s"$k requires merge-engine=aggregation")
    val f = FieldAggregate.field(k)
    require(k == FieldAggregate.keyFor(f) &&
      s.schema.fieldNames.contains(f) && !s.primaryKey.contains(f),
      s"bad aggregate-function option $k (unknown or primary-key field)")
    require(FieldAggregates.contains(fn),
      s"$k must be one of ${FieldAggregates.mkString(", ")}, got $fn")
    val dt = s.schema(f).dataType
    fn match {
      case "sum" | "product" => require(dt.isInstanceOf[NumericType],
        s"$k: $fn requires a numeric field, $f is ${dt.simpleString}")
      case "bool_and" | "bool_or" => require(dt == BooleanType,
        s"$k: $fn requires a boolean field")
      case "listagg" => require(dt == StringType, s"$k: listagg requires a string field")
      case "collect" => require(dt.isInstanceOf[ArrayType],
        s"$k: collect requires an array field, $f is ${dt.simpleString}")
      case "merge_map" => require(dt.isInstanceOf[MapType],
        s"$k: merge_map requires a map field, $f is ${dt.simpleString}")
      // sketch folds carry SERIALIZED state (roaring bitmap / HLL)
      case "rbm32" | "rbm64" | "hll_sketch" => require(dt == BinaryType,
        s"$k: $fn requires a binary field (serialized sketch), " +
          s"$f is ${dt.simpleString}")
      case "nested_update" => require(dt match {
          case ArrayType(_: StructType, _) => true
          case _ => false
        }, s"$k: nested_update requires an array<row> field, " +
          s"$f is ${dt.simpleString}")
      case _ => ()
    }
  }

  /** Paimon's `<engine>.remove-record-on-delete`: a `-D` row (through
    * rowkind.field or a deleteWhere) removes the key outright on a
    * field-wise engine, whose fold then re-folds only later versions. */
  val RemoveRecordOnDelete: Map[String, Opt] =
    Seq("aggregation", "partial-update").map { eng =>
      eng -> opt(s"$eng.remove-record-on-delete", Some("false")) { (s, k, v) =>
        bool(k, v)
        if (v == "true") {
          require(s.is(MergeEngine, eng), s"$k requires merge-engine=$eng")
          require(!s.is(IgnoreDelete, "true"),
            s"$k conflicts with " +
              "ignore-delete=true (one drops deletes, the other applies them)")
        }
      }
    }.toMap

  /** Paimon's `fields.<f>.nested-key` (nested_update companion): the
    * nested columns keying the per-element upsert. */
  val FieldNestedKey: Opt = opt("fields.<f>.nested-key", mutable = false) { (s, k, v) =>
    val f = FieldNestedKey.field(k)
    require(k == FieldNestedKey.keyFor(f) &&
      s.is(FieldAggregate.keyFor(f), "nested_update"),
      s"$k applies only alongside fields.$f.aggregate-function=nested_update")
    val elem = s.schema(f).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    list(v).foreach(nk => require(elem.fieldNames.contains(nk),
      s"$k: nested column $nk not in ${elem.simpleString}"))
  }

  /** Paimon's `fields.<f>.distinct` (collect companion): dedup the
    * collected array at fold time. */
  val FieldDistinct: Opt = opt("fields.<f>.distinct", Some("false"), mutable = false) {
    (s, k, v) =>
      val f = FieldDistinct.field(k)
      require(k == FieldDistinct.keyFor(f) &&
        s.is(FieldAggregate.keyFor(f), "collect"),
        s"$k applies only alongside fields.$f.aggregate-function=collect")
      bool(k, v)
  }

  // Commit-time maintenance (GraftMaintenance.autoMaintain/autoExpire),
  // checked here so a bad value refuses at DDL instead of skipping the
  // maintenance of every later commit.

  /** Paimon's `write-only`: commits skip ALL commit-time maintenance. */
  val WriteOnly: Opt = opt("write-only", Some("false"))((_, k, v) => bool(k, v))
  /** Per-bucket compaction once a bucket holds this many sorted runs. */
  val SortedRunTrigger: Opt = opt("num-sorted-run.compaction-trigger")(intAtLeast(2))
  /** A full compact after every N data commits. */
  val FullCompactionDeltaCommits: Opt = opt("full-compaction.delta-commits")(intAtLeast(1))
  /** PK deletion-vector build after every N data commits. */
  val DvBuildDeltaCommits: Opt = opt("deletion-vectors.build-delta-commits")(intAtLeast(1))
  /** Paimon's `tag.automatic-creation`: `process-time` tags the first
    * commit of each `tag.creation-period`; `tag.num-retained-max` caps
    * the period-named tags kept. */
  val TagAutomaticCreation: Opt = opt("tag.automatic-creation", Some("none")) { (_, k, v) =>
    require(v == "none" || v == "process-time", s"$k must be none or process-time, got $v")
  }
  val TagCreationPeriod: Opt = opt("tag.creation-period", Some("daily")) { (_, k, v) =>
    require(v == "daily" || v == "hourly", s"$k must be daily|hourly, got '$v'")
  }
  val TagNumRetainedMax: Opt = opt("tag.num-retained-max")(intAtLeast(1))
  /** Paimon's `partition.expiration-time`: partitions whose date value,
    * in `partition.expiration.column` (default the first partition
    * column), is older than this expire after each commit. */
  val PartitionExpirationTime: Opt = opt("partition.expiration-time") { (_, k, v) =>
    require(scala.util.Try(GraftCatalog.parseDurationMillis(v)).isSuccess,
      s"$k must be a duration <n><ms|s|min|h|d>, got $v")
  }
  val PartitionExpirationColumn: Opt = opt("partition.expiration.column",
    namesColumns = true) { (s, k, c) =>
    require(s.partitions.contains(c), s"$k $c is not a partition column")
  }

  /** Every declaration, in check order. */
  val All: Seq[Opt] = declared.toSeq

  private val fixed: Map[String, Opt] = All.filterNot(_.pattern).map(o => o.key -> o).toMap
  private val patterns: Seq[Opt] = All.filter(o => o.pattern && (o ne FieldAggregate))

  /** The declaration of key `k`: a fixed key, a declared pattern, and
    * for any other `fields.*` key the aggregate-function check (which
    * refuses it). None = not graft's option. */
  def declFor(k: String): Option[Opt] =
    fixed.get(k).orElse(patterns.find(_.matches(k)))
      .orElse(if (k.startsWith(FieldPrefix)) Some(FieldAggregate) else None)

  /** Check a table's whole option map against its shape. */
  def validate(s: Shape): Unit = All.foreach(_.validate(s))

  /** Refuse a set/unset of an option baked into the data layout or the
    * version-resolution semantics. */
  def requireMutable(k: String): Unit =
    require(declFor(k).forall(_.mutable),
      s"option $k is immutable (baked into the data layout / merge " +
        "semantics) — recreate the table to change it")

  /** Columns option `k = v` references (by key or by value). */
  def columnsOf(k: String, v: String): Seq[String] =
    declFor(k).map(_.columns(k, v)).getOrElse(Nil)

  /** Option `k = v` with its references to column `from` renamed `to`
    * (column names match case-insensitively, as bloom columns do). */
  def renamed(k: String, v: String, from: String, to: String): (String, String) =
    declFor(k) match {
      case Some(o) if o.columns(k, v).exists(_.equalsIgnoreCase(from)) =>
        o.renamed(k, v, c => if (c.equalsIgnoreCase(from)) to else c)
      case _ => (k, v)
    }
}
