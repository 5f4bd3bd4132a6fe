package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import GraftCatalog._

/**
 * Column DDL (metadata-only, stable field ids) and NESTED struct
 * evolution — split from GraftCatalog.scala (continuing the r13/r14
 * seam; behavior unchanged, r19). Same-package trait mixed into
 * [[GraftCatalog]].
 */
trait GraftColumnDdl { self: GraftCatalog =>

  // ---- column DDL (metadata-only, stable field ids) ----------------------

  def currentSchema(schema: String, table: String): StructType =
    currentSchema(readManifest(schema, table))

  private[sources] def currentSchema(m: Manifest): StructType =
    StructType(m.currentFields.map { f =>
      val base = StructField(f.name, TypeMapping.toSparkType(f.trinoType))
      // char(n) columns surface as StringType + Spark's char metadata, so
      // the engine's OWN semantics rules engage on the SQL surface:
      // write-side rpad/length-check (TableOutputResolver) and read-side
      // comparison padding (ApplyCharTypePadding) — the reference
      // preserves CharType pad semantics the same way
      // (TrinoTypeUtils.java:78–80).
      val sf = TypeMapping.charLength(f.trinoType) match {
        case Some(n) =>
          org.apache.spark.sql.catalyst.util.CharVarcharUtils
            .replaceCharVarcharWithStringInSchema(org.apache.spark.sql.types
              .StructType(Seq(base.copy(dataType =
                org.apache.spark.sql.types.CharType(n))))).head
        case None => base
      }
      f.comment.map(sf.withComment).getOrElse(sf)
    })

  def addColumn(schema: String, table: String, field: StructField): Unit =
    evolveSchema(schema, table) { (m, fields) =>
      require(!fields.exists(_.name == field.name), s"column ${field.name} exists")
      val nextId = m.lastFieldId + 1
      m.setLastFieldId(nextId)
      fields :+ FieldInfo(nextId, field.name,
        TypeMapping.fieldTrinoType(field), field.getComment())
    }

  /**
   * Widen a column's type — metadata-only, like every evolution step
   * (Paimon/Trino column type evolution): the manifest records the new
   * type under the same stable field id, and reads cast each file's
   * write-time type to the current one. Only lossless widenings are
   * allowed: tinyint→smallint→integer→bigint, real→double, decimal
   * precision growth at equal scale, varchar length growth.
   */
  def alterColumnType(schema: String, table: String, name: String,
      newTrinoType: String): Unit =
    evolveSchema(schema, table) { (m, fields) =>
      // Primary-key columns never change type (Paimon forbids the same):
      // bucket placement hashes the PK at its CURRENT declared type and
      // Spark's xxhash64 hashes INT and BIGINT differently, so widening a
      // bucket-key column would route new versions of an existing key to
      // a DIFFERENT __bucket=k dir — the per-bucket merge would surface
      // the key twice and point lookups would miss pre-widening rows.
      require(!m.primaryKey.contains(name),
        s"cannot change the type of primary-key column $name — bucket " +
          "placement and merge-on-read key identity depend on it")
      val f = fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name"))
      require(typeWidens(f.trinoType, newTrinoType),
        s"cannot change $name from ${f.trinoType} to $newTrinoType — " +
          "only lossless widenings are supported")
      fields.map(x => if (x.name == name) x.copy(trinoType = newTrinoType) else x)
    }

  private def typeWidens(from: String, to: String): Boolean = {
    def intRank(t: String) = Seq("tinyint", "smallint", "integer", "bigint").indexOf(t)
    val dec = """decimal\((\d+),\s*(\d+)\)""".r
    val vch = """varchar(?:\((\d+)\))?""".r
    (from, to) match {
      case (f, t) if intRank(f) >= 0 && intRank(t) >= 0 => intRank(f) < intRank(t)
      case ("real", "double") => true
      case (dec(p1, s1), dec(p2, s2)) => s1 == s2 && p2.toInt > p1.toInt
      case (vch(n1), vch(n2)) =>
        if (n2 == null) n1 != null // to unbounded: widens unless already unbounded
        else n1 != null && n2.toInt > n1.toInt
      case _ => false
    }
  }

  /** Set (Some) or clear (None) a column's comment — metadata-only, a new
    * schema version like any other evolution step. */
  def setColumnComment(schema: String, table: String, name: String,
      comment: Option[String]): Unit =
    evolveSchema(schema, table) { (_, fields) =>
      require(fields.exists(_.name == name), s"no column $name")
      fields.map(f => if (f.name == name) f.copy(comment = comment) else f)
    }

  def renameColumn(schema: String, table: String, from: String, to: String): Unit =
    evolveSchema(schema, table) { (m, fields) =>
      require(fields.exists(_.name == from), s"no column $from")
      require(!fields.exists(_.name == to), s"column $to exists")
      // keep the partition and primary-key lists consistent with the
      // rename, or future commits/reads would reference a stale name
      def renamed(cols: Seq[String]) = cols.map(c => if (c == from) to else c)
      if (m.partitionColumns.contains(from))
        m.setPartitionColumns(renamed(m.partitionColumns))
      if (m.primaryKey.contains(from)) m.setPrimaryKey(renamed(m.primaryKey))
      // every option naming the column (by key or value) follows it —
      // the registry declares which do
      m.options.raw.foreach { case (k, v) =>
        val (k2, v2) = TableOptions.renamed(k, v, from, to)
        if ((k2, v2) != ((k, v))) { m.removeOptions(Seq(k)); m.putOptions(Seq(k2 -> v2)) }
      }
      fields.map(f => if (f.name == from) f.copy(name = to) else f)
    }

  def dropColumn(schema: String, table: String, name: String): Unit =
    evolveSchema(schema, table) { (m, fields) =>
      require(fields.exists(_.name == name), s"no column $name")
      require(fields.length > 1, "cannot drop the last column")
      require(!m.partitionColumns.contains(name),
        s"cannot drop partition column $name")
      require(!m.primaryKey.contains(name),
        s"cannot drop primary-key column $name")
      m.options.raw.foreach { case (k, v) =>
        require(!TableOptions.columnsOf(k, v).exists(_.equalsIgnoreCase(name)),
          s"cannot drop column $name: table option $k references it")
      }
      fields.filterNot(_.name == name)
    }

  // ---- nested struct evolution (r14) --------------------------------------
  // Fields INSIDE `row(...)` columns evolve like top-level ones: add /
  // rename / drop are metadata-only schema versions, and reads map old
  // files forward BY NESTED FIELD LINEAGE — a per-column `nestedIds` node
  // assigns stable ids to nested paths the first time a column is
  // nested-evolved (renames keep the id, adds mint one), so a renamed
  // member keeps serving the bytes files wrote under its old name.
  // Paths traverse row types only (array/map ELEMENT types don't evolve
  // — their values have no per-field storage identity to map).

  /** Inner member list of a `row(a integer, b row(...))` trino string. */
  private def rowMembers(trino: String): Seq[(String, String)] = {
    val t = trino.trim
    require(t.toLowerCase(java.util.Locale.ROOT).startsWith("row("),
      s"$trino is not a row type")
    val inner = t.substring(t.indexOf('(') + 1, t.lastIndexOf(')'))
    val out = mutable.ArrayBuffer.empty[String]
    var depth = 0
    val sb = new StringBuilder
    inner.foreach {
      case '(' => depth += 1; sb.append('(')
      case ')' => depth -= 1; sb.append(')')
      case ',' if depth == 0 => out += sb.toString.trim; sb.clear()
      case c => sb.append(c)
    }
    if (sb.toString.trim.nonEmpty) out += sb.toString.trim
    out.toSeq.map { p =>
      val i = p.indexOf(' ')
      require(i > 0, s"malformed row member '$p' in $trino")
      (p.take(i), p.drop(i + 1).trim)
    }
  }

  private def mkRow(members: Seq[(String, String)]): String =
    members.map { case (n, t) => s"$n $t" }.mkString("row(", ", ", ")")

  /** Rewrite the member list of the row type at `segs` under `trino`. */
  private def editRowAt(trino: String, segs: Seq[String],
      f: Seq[(String, String)] => Seq[(String, String)]): String =
    if (segs.isEmpty) mkRow(f(rowMembers(trino)))
    else {
      val ms = rowMembers(trino)
      require(ms.exists(_._1 == segs.head),
        s"no nested field ${segs.head} in $trino")
      mkRow(ms.map { case (n, t) =>
        if (n == segs.head) (n, editRowAt(t, segs.tail, f)) else (n, t)
      })
    }

  /** Every nested path (intermediate struct nodes AND leaves) of a row
    * type, dotted, in declaration order. */
  private def nestedPathsOf(trino: String, prefix: String = ""): Seq[String] =
    if (!trino.trim.toLowerCase(java.util.Locale.ROOT).startsWith("row("))
      Seq.empty
    else rowMembers(trino).flatMap { case (n, t) =>
      val p = if (prefix.isEmpty) n else s"$prefix.$n"
      p +: nestedPathsOf(t, p)
    }

  /** Current-naming nested path → write-time path for files of `colId`
    * written at schema version `w` (None = the member didn't exist).
    * Name identity when the column was never nested-evolved. */
  private[sources] def nestedCurToWrite(m: Manifest, colId: Int,
      w: Int): String => Option[String] = {
    val cur = m.nestedIdsAt(colId, m.currentSchemaVersion)
    val write = m.nestedIdsAt(colId, w)
    (cur, write) match {
      case (Some(c), Some(wr)) =>
        val writeById = wr.map(_.swap)
        (p: String) => c.get(p).flatMap(writeById.get)
      case _ => (p: String) => Some(p)
    }
  }

  /** Shared shell of the three nested ops: resolves the top column,
    * ensures its nestedIds lineage exists (snapshotting the pre-op
    * structure under the PREVIOUS version — it names every older file's
    * layout, unchanged until now), applies the type edit and the id-map
    * edit, and lands one schema version. */
  private def nestedEvolve(schema: String, table: String, path: String)(
      editType: (Seq[String], String) => String)(
      editIds: (Seq[String], Map[String, Int], () => Int) => Map[String, Int])
      : Unit =
    evolveSchema(schema, table) { (m, fields) =>
      val segs = path.split('.').toSeq
      require(segs.length >= 2,
        s"'$path' is not a nested path (use the top-level column DDL)")
      val top = fields.find(_.name == segs.head).getOrElse(
        throw new IllegalArgumentException(s"no column ${segs.head}"))
      // validate the path traverses row types only (clear refusal beats
      // editRowAt's parse error), before any manifest mutation
      segs.tail.init.foldLeft(top.trinoType) { (t, seg) =>
        val ms = rowMembers(t)
        val hit = ms.find(_._1 == seg).getOrElse(
          throw new IllegalArgumentException(s"no nested field $seg in $t"))
        require(hit._2.trim.toLowerCase(java.util.Locale.ROOT).startsWith("row("),
          s"nested path '$path' traverses non-row type ${hit._2} at '$seg' " +
            "(array/map element types don't evolve)")
        hit._2
      }
      val newType = editType(segs.tail, top.trinoType)
      // nested-id lineage
      val curVersion = m.currentSchemaVersion
      val prior: Map[String, Int] = m.nestedIdsAt(top.id, curVersion) match {
        case Some(existing) => existing
        case None =>
          // first nested op on this column: snapshot the pre-op structure
          // (valid for EVERY older version — naming never changed before)
          var n = 0
          val snap = nestedPathsOf(top.trinoType).map { p => n += 1; p -> n }.toMap
          m.putNestedIds(top.id, curVersion, snap, n)
          snap
      }
      var last = m.nestedLastId(top.id)
      val next = editIds(segs.tail, prior, () => { last += 1; last })
      m.putNestedIds(top.id, curVersion + 1, next, last)
      fields.map(f => if (f.id == top.id) f.copy(trinoType = newType) else f)
    }

  /** Add a field inside a `row(...)` column: `path` = dotted location of
    * the NEW member (e.g. "s.inner.c"); old files read it as null. */
  def addNestedField(schema: String, table: String, path: String,
      dataType: org.apache.spark.sql.types.DataType): Unit =
    nestedEvolve(schema, table, path) { (segs, trino) =>
      editRowAt(trino, segs.init, { ms =>
        require(!ms.exists(_._1 == segs.last),
          s"nested field ${segs.last} exists at ${segs.init.mkString(".")}")
        ms :+ (segs.last -> TypeMapping.fieldTrinoType(
          org.apache.spark.sql.types.StructField(segs.last, dataType)))
      })
    } { (segs, ids, mint) =>
      val parent = segs.init.mkString(".")
      val p = if (parent.isEmpty) segs.last else s"$parent.${segs.last}"
      ids + (p -> mint())
    }

  /** Rename a field inside a `row(...)` column — files written under the
    * old name keep serving it (the nested id is the lineage). */
  def renameNestedField(schema: String, table: String, path: String,
      to: String): Unit =
    nestedEvolve(schema, table, path) { (segs, trino) =>
      editRowAt(trino, segs.init, { ms =>
        require(ms.exists(_._1 == segs.last), s"no nested field ${segs.last}")
        require(!ms.exists(_._1 == to), s"nested field $to exists")
        ms.map { case (n, t) => if (n == segs.last) (to, t) else (n, t) }
      })
    } { (segs, ids, _) =>
      val prefix = segs.mkString(".")
      val toPath = (segs.init :+ to).mkString(".")
      ids.map { case (p, i) =>
        if (p == prefix) toPath -> i
        else if (p.startsWith(prefix + ".")) // descendants follow the parent
          (toPath + p.stripPrefix(prefix)) -> i
        else p -> i
      }
    }

  /** Drop a field inside a `row(...)` column (metadata-only; the bytes
    * stay in old files for time travel). */
  def dropNestedField(schema: String, table: String, path: String): Unit =
    nestedEvolve(schema, table, path) { (segs, trino) =>
      editRowAt(trino, segs.init, { ms =>
        require(ms.exists(_._1 == segs.last), s"no nested field ${segs.last}")
        require(ms.length > 1,
          s"cannot drop the last member of ${segs.init.mkString(".")}")
        ms.filterNot(_._1 == segs.last)
      })
    } { (segs, ids, _) =>
      val prefix = segs.mkString(".")
      ids.filterNot { case (p, _) => p == prefix || p.startsWith(prefix + ".") }
    }

  /**
   * Map a write-time value expression onto the current type by nested
   * field LINEAGE: struct members resolve through `curToWrite` (renames
   * keep serving old bytes, added members read null, dropped ones
   * disappear); atomic leaves cast as before. Null struct rows stay
   * null — never a struct of nulls.
   */
  private[sources] def adaptExpr(e: org.apache.spark.sql.Column,
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType,
      curPath: String,
      curToWrite: String => Option[String]): org.apache.spark.sql.Column =
    (from, to) match {
      case (f: StructType, t: StructType) =>
        val kids = t.fields.toSeq.map { tf =>
          val p = if (curPath.isEmpty) tf.name else s"$curPath.${tf.name}"
          curToWrite(p).flatMap { wp =>
            val wName = wp.substring(wp.lastIndexOf('.') + 1)
            f.fields.find(_.name == wName).map(wf =>
              adaptExpr(e.getField(wName), wf.dataType, tf.dataType, p,
                curToWrite).as(tf.name))
          }.getOrElse(lit(null).cast(tf.dataType).as(tf.name))
        }
        org.apache.spark.sql.functions.when(e.isNull,
            lit(null).cast(t))
          .otherwise(org.apache.spark.sql.functions.struct(kids: _*))
      case (f, t) if f == t => e
      case (_, t) => e.cast(t)
    }

  /** Land `f`'s edit of the current fields as the next schema version,
    * provided the resulting table still passes the [[TableOptions]]
    * checks CREATE and ALTER run (reserved column names included). */
  private def evolveSchema(schema: String, table: String)(
      f: (Manifest, Seq[FieldInfo]) => Seq[FieldInfo]): Unit = {
    val m = readManifest(schema, table)
    m.addSchemaVersion(f(m, m.currentFields))
    TableOptions.validate(TableOptions.Shape(currentSchema(m),
      m.partitionColumns, m.primaryKey, m.options.raw))
    writeManifest(schema, table, m)
  }

}
