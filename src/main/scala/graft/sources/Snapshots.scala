package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** Manifest-committed snapshot table — the transactional-publish primitive
  * under every lakehouse table format: a reader must see either the table
  * BEFORE a write or the table AFTER it, never a half-written mixture, and
  * every published version stays readable (time travel).
  *
  * Mechanics (the Delta/Iceberg idea reduced to its load-bearing core):
  * data files are immutable and carry no meaning by themselves — a file
  * EXISTS in the table only if a committed manifest lists it. A commit
  *  1. stages the DataFrame's parquet files into `data/` under
  *     version-AND-ATTEMPT-prefixed immutable names (crash here leaves
  *     ORPHANS — garbage, not corruption: no manifest references them, so
  *     readers never see them; attempt-unique names mean two racing
  *     writers can never clobber each other's staged files),
  *  2. writes the COMPLETE commit record — file list, streaming batch
  *     watermark, table schema — to a temp file,
  *  3. publishes it by ATOMIC CREATE-IF-ABSENT of `_manifests/v<N>.json`
  *     (a hard link to the fully-written temp: POSIX link(2) fails with
  *     EEXIST atomically, the local-FS form of an object-store
  *     compare-and-swap). The manifest's appearance IS the commit: a
  *     version exists iff its manifest does, so there is no pointer to
  *     flip and no crash window between "data committed" and "commit
  *     recorded".
  *
  * MULTI-WRITER optimistic concurrency (round 8): the create-if-absent
  * commit gives versions a total order, and losing the race is DETECTED,
  * not silent. Conflict resolution is per-operation, the Delta taxonomy:
  *  - [[publish]] (blind overwrite) and [[append]]/[[appendBatch]] (blind
  *    add) auto-RETRY against the new latest — an append rebases its
  *    manifest on the winner's file list (staged files are reusable:
  *    immutable, attempt-unique) and re-runs the schema gate and batch
  *    watermark check each attempt;
  *  - read-modify-write commits ([[deleteWhere]], [[merge]], [[compact]],
  *    [[compactZ]], [[addColumns]]) throw ConcurrentModificationException
  *    on a lost race — their staged content was derived from a version
  *    that is no longer latest (serializable semantics; the caller re-runs
  *    the whole operation against the new base).
  *
  * SCHEMA EVOLUTION: every commit records its TABLE SCHEMA inside the
  * manifest (atomic with the commit). [[addColumns]] is a METADATA-ONLY
  * commit — same files, wider schema, O(1) at any table size — and
  * [[read]] applies the version's declared schema so pre-evolution files
  * null-fill the new columns at scan time, with no 100 TB footer-merge
  * (`mergeSchema`) pass and no rewrite. [[append]] gates on schema
  * compatibility (new columns only under `mergeSchema = true`; type drift
  * always fails); time travel to a pre-evolution version reads the old
  * schema.
  *
  * COLUMN MAPPING (round 9): [[renameColumn]]/[[dropColumn]] are
  * metadata-only commits too, via Iceberg-style STABLE FIELD IDS with a
  * per-version name mapping — each schema field carries (`graft.id`,
  * `graft.phys`) in its StructField metadata: the id never changes, the
  * PHYSICAL name is what data files carry (frozen at the field's first
  * commit), and the LOGICAL name is free to change per version. Reads
  * resolve files under the physical schema and alias to the version's
  * logical names, so a renamed column's data survives with zero rewrite,
  * time travel sees each version's own names, and an append under the
  * old name fails the schema gate loudly. Columns added after a drop get
  * FRESH physical names (`_g<id>_<name>`) so a dropped column's bytes in
  * retained files can never resurrect under a reused logical name.
  * Tables never renamed/dropped keep physical == logical and the exact
  * pre-mapping plans (no aliasing operator). Renaming/dropping a column
  * referenced by a CHECK constraint is refused (drop the constraint
  * first); nested-field mapping is out of scope (tables here are flat).
  *
  * Scope: the commit CAS is ABSTRACTED behind [[CommitPrimitive]]
  * (round 9) — production here is [[PosixLinkCommit]] (POSIX
  * link/O_EXCL, HDFS create); an object-store port implements the same
  * one-call contract against a conditional PUT (S3 `If-None-Match: *`,
  * GCS `if-generation-match: 0`) or a catalog-row insert, and NOTHING
  * else in this object touches the commit path (tests inject race-losing
  * doubles through the same seam — SnapshotsConcurrencySpec). The
  * READER contract — manifest-listed files only, orphans invisible,
  * versions immutable — is identical and is what SnapshotsSpec certifies.
  * VACUUM remains a single-maintenance-process operation (it deletes;
  * racing two vacuums is out of scope, racing vacuum with READERS is in:
  * expired manifests go first so readers fail loudly, never partially).
  */
object Snapshots {

  /** Shared Hadoop conf for the driver-side parquet footer reads
    * (round 13): `new Configuration()` parses the default XML resource
    * set on every construction — a driver stack sample during the
    * snapshot bench caught exactly that parse — and the footer readers
    * only need the default filesystem bindings, so one immutable
    * instance serves every open.
    */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  private def dirOf(table: String, sub: String): Path = {
    val p = Paths.get(table, sub)
    Files.createDirectories(p)
    p
  }

  private def manifestPath(table: String, v: Int): Path =
    Paths.get(table, "_manifests", f"v$v%05d.json")

  private val ManifestName = "v(\\d{5})\\.json".r

  /** Highest committed version, or 0 if never published. A version is
    * committed iff its manifest exists (manifests appear only by atomic
    * create-if-absent of a complete record, so existence is commitment —
    * there is no pointer that could lag or wedge). One directory listing,
    * metadata-scale.
    */
  def latestVersion(table: String): Int = {
    val dir = Paths.get(table, "_manifests")
    if (!Files.isDirectory(dir)) return 0
    val l = Files.list(dir)
    try l.iterator().asScala.flatMap { p =>
      p.getFileName.toString match {
        case ManifestName(d) => Some(d.toInt)
        case _ => None // .tmp-* staging debris is not a commit
      }
    }.foldLeft(0)(math.max)
    finally l.close()
  }

  /** One committed version's full record: the streaming batch watermark,
    * the exact file list, the CHECK constraints, the DELETION-VECTOR file
    * list, and the table schema — all published by the single atomic
    * create, so none can be observed without the others.
    */
  private case class Manifest(batch: Long, files: Seq[String],
      constraints: Seq[(String, String)], schema: Option[StructType],
      dvs: Seq[String] = Seq.empty, blooms: Seq[String] = Seq.empty)

  /** Wire format (written single-line, parsed positionally — `batch` is a
    * number, file names are [g0-9a-f.-]+, and constraints are base64 (a
    * CHECK expression is free-form SQL that could contain any
    * delimiter), so the first ',' and the leading '['/']' pairs are
    * unambiguous; the free-form schema JSON comes LAST):
    * `{"batch":N,"files":[...],"checks":[...],"dvs":[...],"schema":...}`
    */
  private def renderManifest(m: Manifest): String = {
    val files = m.files.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val b64 = java.util.Base64.getEncoder
    val checks = m.constraints.map { case (name, e) =>
      "\"" + b64.encodeToString(s"$name\t$e".getBytes("UTF-8")) + "\""
    }.mkString("[", ",", "]")
    val dvs = m.dvs.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val blooms = m.blooms.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val schema = m.schema.map(_.json).getOrElse("null")
    s"""{"batch":${m.batch},"files":$files,"checks":$checks,""" +
      s""""dvs":$dvs,"blooms":$blooms,"schema":$schema}"""
  }

  private def readManifest(table: String, v: Int): Manifest = {
    val p = manifestPath(table, v)
    require(Files.exists(p),
      s"version $v of $table is not committed (never written, or vacuumed)")
    val s = Files.readString(p)
    // LEGACY DETECTION: a manifest written by the pre-positional-format
    // revision is a bare JSON array of file names (`["a.parquet",...]`).
    // Parse it as a files-only Manifest (no batch watermark, checks,
    // DVs, blooms, or schema existed in that format) instead of failing
    // with an opaque substring/NumberFormat error.
    val first = s.dropWhile(_.isWhitespace).headOption.getOrElse(' ')
    if (first == '[') {
      val body = s.trim.stripPrefix("[").stripSuffix("]")
      val files = body.split(",").map(_.trim.stripPrefix("\"")
        .stripSuffix("\"")).filter(_.nonEmpty).toSeq
      return Manifest(-1L, files, Seq.empty, None)
    }
    require(first == '{',
      s"unrecognized manifest format for version $v of $table " +
        s"(starts with '$first'); republish the table")
    val batch = s.substring(s.indexOf("\"batch\":") + 8, s.indexOf(',')).trim.toLong
    def arr(from: Int): (Seq[String], Int) = {
      val a = s.indexOf('[', from); val b = s.indexOf(']', a)
      (s.substring(a + 1, b).split(",").map(_.trim.stripPrefix("\"")
        .stripSuffix("\"")).filter(_.nonEmpty).toSeq, b)
    }
    val (files, filesEnd) = arr(0)
    val (checksRaw, checksEnd) =
      if (s.contains("\"checks\":")) arr(filesEnd) else (Seq.empty, filesEnd)
    val (dvs, dvsEnd) =
      if (s.contains("\"dvs\":")) arr(checksEnd) else (Seq.empty, checksEnd)
    val (blooms, _) =
      if (s.contains("\"blooms\":")) arr(dvsEnd) else (Seq.empty, dvsEnd)
    val b64 = java.util.Base64.getDecoder
    val constraints = checksRaw.map { c =>
      val Array(name, e) = new String(b64.decode(c), "UTF-8").split("\t", 2)
      (name, e)
    }
    val schemaJson = s.substring(s.indexOf("\"schema\":") + 9, s.length - 1)
    val schema =
      if (schemaJson == "null") None
      else Some(DataType.fromJson(schemaJson).asInstanceOf[StructType])
    Manifest(batch, files, constraints, schema, dvs, blooms)
  }

  /** Columns carrying a BLOOM-FILTER INDEX at version `v` (a versioned
    * table property, like CHECK constraints).
    */
  def bloomColumnsFor(table: String, v: Int): Seq[String] =
    if (v < 1 || !Files.exists(manifestPath(table, v))) Seq.empty
    else readManifest(table, v).blooms

  /** Bytes version `v` ADDED to the table: the sizes of data + DV files
    * in `v`'s manifest that were not in `v-1`'s. One manifest read and a
    * stat call per new file — metadata-plane, no data is opened. This is
    * the pacing weight the streaming source's `maxBytesPerBatch` uses
    * (a commit's catch-up cost is proportional to what it added, not 1).
    */
  def versionAddedBytes(table: String, v: Int): Long = {
    require(v >= 1, s"version must be >= 1, got $v")
    val prev: Set[String] =
      if (v == 1) Set.empty
      else { val m = readManifest(table, v - 1); (m.files ++ m.dvs).toSet }
    val m = readManifest(table, v)
    (m.files ++ m.dvs).distinct.filterNot(prev).map { n =>
      val p = Paths.get(table, "data", n)
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
  }

  /** Deletion-vector parquet names committed with version `v` (empty for
    * pre-DV manifests and uncommitted versions).
    */
  private def dvFiles(table: String, v: Int): Seq[String] =
    if (v < 1 || !Files.exists(manifestPath(table, v))) Seq.empty
    else readManifest(table, v).dvs

  /** The CHECK constraints committed with version `v` (name -> SQL
    * expression), empty for uncommitted/vacuumed versions. Versioned
    * like the schema: constraints added at v bind commits FROM v on.
    */
  def constraintsFor(table: String, v: Int): Seq[(String, String)] =
    if (v < 1 || !Files.exists(manifestPath(table, v))) Seq.empty
    else readManifest(table, v).constraints

  /** Enforce `checks` on data about to be committed. SQL CHECK
    * semantics: a row violates only when the expression evaluates FALSE
    * — NULL passes (use an explicit `x IS NOT NULL` check for
    * non-nullability). All constraints evaluate in ONE aggregation pass
    * over the new data (never the table), and the pass is skipped
    * entirely when no constraints exist, so the unconstrained commit
    * path pays nothing.
    */
  private def enforce(df: DataFrame, checks: Seq[(String, String)],
      table: String): Unit = {
    if (checks.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    val counts = df.agg(
      sum(lit(0L)).as("_z"), // anchor so agg() compiles for any arity
      checks.map { case (name, e) =>
        sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(name)
      }: _*).collect()(0)
    checks.zipWithIndex.foreach { case ((name, e), i) =>
      val bad = if (counts.isNullAt(i + 1)) 0L else counts.getLong(i + 1)
      require(bad == 0,
        s"CHECK constraint '$name' ($e) violated by $bad incoming row(s) " +
          s"for $table — commit refused, table unchanged")
    }
  }

  /** Highest streaming batchId committed into `table`, or -1. Rides IN
    * the manifest, so the data commit and the batch record are one atomic
    * create — the exactly-once hinge of [[appendBatch]].
    */
  def lastBatchId(table: String): Long = {
    val latest = latestVersion(table)
    if (latest < 1) -1L else readManifest(table, latest).batch
  }

  /** The TABLE SCHEMA committed with version `v`, if one was recorded
    * (None for vacuumed/never-committed versions and schema-less legacy
    * commits). Schema-in-manifest is what makes evolution work at scale:
    * the reader applies ONE declared schema (absent columns in older
    * files null-fill) instead of merging every file's footer — at 100 TB,
    * parquet `mergeSchema` is a scan of every footer in the table just to
    * start the query, and it cannot represent "this column exists but no
    * file has it yet" (a metadata-only ADD COLUMN).
    */
  def tableSchema(table: String, v: Int): Option[StructType] =
    if (!Files.exists(manifestPath(table, v))) None
    else readManifest(table, v).schema

  /** Manifest file list of a committed version. */
  private def manifestFiles(table: String, v: Int): Seq[String] =
    readManifest(table, v).files

  // ---- column mapping (stable field ids + per-version name mapping) ----
  private val FieldIdKey = "graft.id"
  private val PhysKey = "graft.phys"

  /** The PHYSICAL (on-file) column name of a logical schema field —
    * frozen at the field's first commit; the logical name is free to
    * change per version. Unmapped fields: physical == logical.
    */
  private def physOf(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey)
    else f.name

  private def isMapped(s: StructType): Boolean =
    s.fields.exists(_.metadata.contains(FieldIdKey))

  /** True when any field's logical name differs from its physical name —
    * the only case the read path pays an aliasing projection for.
    */
  private def hasAlias(s: StructType): Boolean =
    s.fields.exists(f => physOf(f) != f.name)

  /** The schema as data files carry it: every field under its physical
    * name (metadata kept — aliasing back restores the logical view).
    */
  private def physSchema(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physOf(f))))

  /** The declared schema with Spark's `parquet.field.id` key STRIPPED —
    * the scan-side view. Data files staged BEFORE the first rename/drop
    * carry no parquet field ids, and Spark 4.1.2's vectorized reader
    * refuses an id-expecting read schema over an id-less file
    * (`FAILED_READ_FILE`: "Spark read schema expects field Ids, but
    * Parquet file schema doesn't contain any") the moment a real column
    * is materialized — `count()` prunes every column and never trips it.
    * Scans therefore always resolve files by PHYSICAL NAME (stable by
    * construction); the id metadata stays on the COMMITTED schema so
    * [[stageFiles]] stamps ids into each NEW file for cross-engine
    * id-resolving readers.
    */
  private def scanSchema(s: StructType): StructType =
    StructType(s.fields.map { f =>
      if (!f.metadata.contains("parquet.field.id")) f
      else f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove("parquet.field.id").build())
    })

  private def fieldWithId(f: StructField, id: Long, phys: String): StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id)
      // Also stamp Spark's standard parquet field-id key: with
      // spark.sql.parquet.fieldId.write.enabled (default true) every
      // staged file then records the Iceberg-style field id in its own
      // parquet schema — cross-engine readers that resolve by id can
      // consume the data files directly, not just through this reader.
      .putLong("parquet.field.id", id)
      .putString(PhysKey, phys).build())

  /** Baseline id assignment for a never-mapped schema (ids 1..n,
    * physical = current names — sound because every retained file was
    * written under exactly those names); identity if already mapped.
    */
  private def withBaselineIds(s: StructType): StructType =
    if (isMapped(s)) s
    else StructType(s.fields.zipWithIndex.map { case (f, i) =>
      fieldWithId(f, i + 1L, f.name)
    })

  private def maxFieldId(s: StructType): Long =
    s.fields.filter(_.metadata.contains(FieldIdKey))
      .map(_.metadata.getLong(FieldIdKey)).foldLeft(0L)(math.max)

  /** Extend `base` with new nullable fields. On a MAPPED table each new
    * field gets the next id and a FRESH physical name (`_g<id>_<name>`):
    * a previously-dropped column's bytes still sit in retained files
    * under its old physical name, and a reused logical name must never
    * resolve to them. Unmapped tables extend name-based, as ever.
    */
  private def extendFields(base: StructType,
      extra: Seq[StructField]): StructType =
    if (!isMapped(base))
      StructType(base.fields ++ extra.map(_.copy(nullable = true)))
    else {
      var next = maxFieldId(base)
      StructType(base.fields ++ extra.map { f =>
        next += 1
        fieldWithId(f.copy(nullable = true), next, s"_g${next}_${f.name}")
      })
    }

  /** The physical name of logical `column` at version `v` (identity for
    * unmapped/legacy tables) — the translation every footer-keyed
    * consumer (stats pruning, bloom probes) applies before touching a
    * file.
    */
  private def physNameAt(table: String, v: Int, column: String): String =
    tableSchema(table, v).flatMap(_.fields.find(_.name == column))
      .map(physOf).getOrElse(column)

  /** Refuse a rename/drop of a column some CHECK constraint references —
    * constraints are SQL over LOGICAL names and would silently bind to
    * nothing (or error at the next enforce) after the change.
    */
  private def guardConstraintRefs(cons: Seq[(String, String)],
      column: String, op: String): Unit = {
    val re = ("(?i)\\b" + java.util.regex.Pattern.quote(column) + "\\b").r
    val hit = cons.filter { case (_, e) => re.findFirstIn(e).isDefined }
    require(hit.isEmpty,
      s"cannot $op column '$column': referenced by CHECK constraint(s) " +
        s"${hit.map(_._1).mkString(",")} — drop them first")
  }

  /** RENAME COLUMN — metadata-only commit: same files, same field id and
    * physical name, new LOGICAL name. Reads of every version resolve by
    * the stable physical name, so the column's data survives with zero
    * rewrite; time travel to a pre-rename version sees the old name; an
    * append still carrying the old name fails the schema gate loudly.
    * A bloom index on the column follows the rename (the blooms property
    * tracks logical names; file probes translate to physical). First use
    * assigns baseline field ids. Read-modify-write: lost race conflicts.
    */
  def renameColumn(table: String, oldName: String, newName: String): Int = {
    val prev = latestVersion(table)
    require(prev >= 1, s"$table has no committed version to evolve")
    val base0 = tableSchema(table, prev).getOrElse(
      throw new IllegalArgumentException(
        s"$table tracks no schema (legacy table) — republish before renaming"))
    val base = withBaselineIds(base0)
    require(base.fieldNames.contains(oldName),
      s"$table has no column '$oldName'")
    require(!base.fieldNames.contains(newName),
      s"$table already has a column '$newName'")
    val cons = constraintsFor(table, prev)
    guardConstraintRefs(cons, oldName, "rename")
    val evolved = StructType(base.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val blooms = bloomColumnsFor(table, prev)
      .map(b => if (b == oldName) newName else b)
    commitOrConflict(table, prev + 1, manifestFiles(table, prev),
      Some(evolved), cons, dvFiles(table, prev), blooms = blooms)
  }

  /** DROP COLUMN — metadata-only commit: the field leaves the declared
    * schema; its bytes stay in retained files under the physical name,
    * invisible to every read of this and later versions (and recoverable
    * by time travel / RESTORE to a pre-drop version). A later
    * [[addColumns]] may reuse the logical name — it gets a fresh
    * physical name, so the dropped data never resurrects. Refused for
    * the last column and for constraint-referenced columns.
    */
  def dropColumn(table: String, name: String): Int = {
    val prev = latestVersion(table)
    require(prev >= 1, s"$table has no committed version to evolve")
    val base0 = tableSchema(table, prev).getOrElse(
      throw new IllegalArgumentException(
        s"$table tracks no schema (legacy table) — republish before dropping"))
    val base = withBaselineIds(base0)
    require(base.fieldNames.contains(name), s"$table has no column '$name'")
    require(base.fields.length > 1,
      s"cannot drop the last column of $table")
    val cons = constraintsFor(table, prev)
    guardConstraintRefs(cons, name, "drop")
    val evolved = StructType(base.fields.filterNot(_.name == name))
    val blooms = bloomColumnsFor(table, prev).filterNot(_ == name)
    commitOrConflict(table, prev + 1, manifestFiles(table, prev),
      Some(evolved), cons, dvFiles(table, prev), blooms = blooms)
  }

  /** Per-file column min/max recorded at commit time (`_stats/v<N>.tsv`,
    * one `file col tag min max` line per numeric top-level column; tag
    * `L` = integral, `D` = floating). The stats come from the parquet
    * FOOTERS the writer already produced — no data pass — and a file's
    * entry is computed ONCE: carried-over files inherit their entry from
    * the previous version's stats (files are immutable, so their stats
    * are too), so a commit's stats cost is O(new files), matching the
    * O(new data) commit contract. This is the Iceberg/Delta manifest-
    * stats idea: at 100 TB a reader must be able to PLAN a range query
    * from metadata alone — [[pruneFiles]]/[[readRange]] skip files whose
    * [min,max] cannot intersect the predicate without opening them,
    * turning a clustered table's point/range read into an O(matching
    * files) operation instead of an O(table) footer crawl.
    *
    * Stats are written AFTER the winning commit (a racing loser must
    * never clobber the winner's stats file): a reader can observe a
    * committed version whose stats are not yet — or, after a crash in
    * that window, never — present, and every consumer treats missing
    * stats as "cannot prune" (conservative, correct).
    */
  private def statsPath(table: String, v: Int): Path =
    Paths.get(table, "_stats", f"v$v%05d.tsv")

  /** Parsed stats of version `v`: file -> column -> (tag, min, max).
    * Absent file reads as empty — conservative everywhere.
    */
  def statsFor(table: String, v: Int): Map[String, Map[String, (String, String, String)]] = {
    val p = statsPath(table, v)
    if (v < 1 || !Files.exists(p)) return Map.empty
    Files.readString(p).split("\n").filter(_.nonEmpty).toSeq
      .map(_.split("\t", -1))
      .groupBy(_(0))
      .map { case (file, rows) =>
        file -> rows.filter(_(1) != "-")
          .map(r => r(1) -> ((r(2), r(3), r(4)))).toMap
      }
  }

  /** Footer-read min/max for one data file's numeric and string
    * top-level columns. Row-group stats combine per column; a column
    * whose every chunk is null-only (or an unsupported type) gets no
    * entry and is never pruned on. NULL rows can't satisfy a range or
    * equality predicate, so min/max over non-null values alone is a
    * sound pruning bound.
    *
    * String (UTF8 BINARY) stats are tagged `S` and stored Base64-encoded
    * (tab/newline-safe in the TSV); their order is parquet-mr's UNSIGNED
    * lexicographic byte comparator, and all consumers compare the same
    * way ([[bytesCompare]]). parquet-mr may TRUNCATE long binary stats —
    * min truncates down, max truncates up — which widens the bound and
    * stays sound for pruning.
    */
  private def footerStats(p: Path): Map[String, (String, String, String)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri),
      footerConf)
    val reader = ParquetFileReader.open(in)
    try {
      val perChunk = reader.getFooter.getBlocks.asScala.flatMap { b =>
        b.getColumns.asScala.flatMap { c =>
          val s = c.getStatistics
          if (c.getPath.size != 1 || s == null || !s.hasNonNullValue) None
          else c.getPrimitiveType.getPrimitiveTypeName match {
            case INT64 | INT32 =>
              Some((c.getPath.toDotString,
                ("L", s.genericGetMin.toString, s.genericGetMax.toString)))
            case DOUBLE | FLOAT =>
              Some((c.getPath.toDotString,
                ("D", s.genericGetMin.toString, s.genericGetMax.toString)))
            case BINARY if c.getPrimitiveType.getLogicalTypeAnnotation ==
                LogicalTypeAnnotation.stringType() =>
              val b64 = java.util.Base64.getEncoder
              Some((c.getPath.toDotString, ("S",
                b64.encodeToString(
                  s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes),
                b64.encodeToString(
                  s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes))))
            case _ => None
          }
        }
      }
      perChunk.groupBy(_._1).map { case (col, chunks) =>
        val tag = chunks.head._2._1
        if (tag == "S") {
          val b64 = java.util.Base64.getDecoder
          def bytes(x: String) = b64.decode(x)
          val ord = new Ordering[String] {
            def compare(a: String, b: String) = bytesCompare(bytes(a), bytes(b))
          }
          col -> ((tag, chunks.map(_._2._2).min(ord), chunks.map(_._2._3).max(ord)))
        } else {
          def num(x: String) = BigDecimal(x)
          col -> ((tag,
            chunks.map(c => num(c._2._2)).min.bigDecimal.toPlainString,
            chunks.map(c => num(c._2._3)).max.bigDecimal.toPlainString))
        }
      }.toMap
    } finally reader.close()
  }

  /** Unsigned lexicographic byte comparison — parquet's UTF8 stat order. */
  private def bytesCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Footer-read total row count of one parquet file (sum of row-group
    * counts — exact, metadata-only).
    */
  private def footerRowCount(p: Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri),
      footerConf))
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally reader.close()
  }

  /** Per-file COUNT metadata of version `v`: file -> (footer row count,
    * DV-masked row count), parsed from the same stats TSV as the min/max
    * entries (reserved column `-`, tags `R`/`V` — [[statsFor]] filters
    * the reserved column out, so pruning never sees these lines). Files
    * committed before count tracking have no entry — consumers treat the
    * absence as "unknown", never as zero.
    */
  def metaFor(table: String, v: Int): Map[String, (Long, Long)] = {
    val p = statsPath(table, v)
    if (v < 1 || !Files.exists(p)) return Map.empty
    val rows = Files.readString(p).split("\n").filter(_.nonEmpty).toSeq
      .map(_.split("\t", -1)).filter(r => r(1) == "-" && (r(2) == "R" || r(2) == "V"))
      .groupBy(_(0))
    rows.flatMap { case (file, ls) =>
      ls.find(_(2) == "R").flatMap { r =>
        val vVal = ls.find(_(2) == "V").map(_(3))
        // Sentinel "?" = masked count UNKNOWN (written when a carried
        // file's prior stats were lost in the crash window while the
        // manifest carries DVs): report no entry at all, so rowCount
        // degrades to None and carriedDvs keeps the vectors — unknown
        // is never reported as zero.
        if (vVal.contains("?")) None
        else Some(file -> ((r(3).toLong, vVal.map(_.toLong).getOrElse(0L))))
      }
    }
  }

  /** Post-commit stats for version `v`. Per file: one `R` line (footer
    * row count), one `V` line (cumulative DV-masked rows — inherited
    * count plus this commit's `dvDelta`), then the min/max column lines.
    * Carried files inherit their whole block from the previous version
    * (files are immutable, so their footer facts are too); `inheritAlso`
    * names a second version to inherit from before falling back to a
    * footer read — [[restore]] passes its target so restored files keep
    * their masked counts (a footer read cannot know them).
    */
  private def writeStats(table: String, v: Int, names: Seq[String],
      dvDelta: Map[String, Long] = Map.empty,
      inheritAlso: Option[Int] = None,
      dvs: Seq[String] = Seq.empty): Unit = {
    val prevStats = statsFor(table, v - 1)
    val prevMeta = metaFor(table, v - 1)
    val alsoStats = inheritAlso.map(statsFor(table, _)).getOrElse(Map.empty)
    val alsoMeta = inheritAlso.map(metaFor(table, _)).getOrElse(Map.empty)
    // Files carried from v-1 whose masked count was never recorded
    // (crash/concurrent-writer window left v-1's sidecar unwritten) have
    // an UNKNOWN masked count whenever the new manifest carries DVs —
    // baking 0 would make rowCount overcount forever. Newly staged files
    // (not in v-1's manifest) genuinely start at 0.
    val carried: Set[String] =
      if (v <= 1) Set.empty else manifestFiles(table, v - 1).toSet
    val statLines = names.flatMap { n =>
      val path = Paths.get(table, "data", n)
      // `inheritAlso` wins over v-1: a restore republishes the TARGET's
      // DV list, so its masked counts (not the pre-restore latest's)
      // are the ones consistent with the committed manifest.
      val meta = alsoMeta.get(n).orElse(prevMeta.get(n))
      val rows = meta.map(_._1).getOrElse(footerRowCount(path))
      val maskedKnown = meta.isDefined || !carried(n) || dvs.isEmpty
      val vLine =
        if (maskedKnown) {
          val m = meta.map(_._2).getOrElse(0L) + dvDelta.getOrElse(n, 0L)
          s"$n\t-\tV\t$m\t$m"
        } else s"$n\t-\tV\t?\t?"
      val cols = prevStats.get(n).orElse(alsoStats.get(n))
        .getOrElse(footerStats(path))
      Seq(s"$n\t-\tR\t$rows\t$rows", vLine) ++
        cols.toSeq.sortBy(_._1).map { case (c, (tag, mn, mx)) =>
          s"$n\t$c\t$tag\t$mn\t$mx"
        }
    }
    Files.writeString(dirOf(table, "_stats").resolve(f"v$v%05d.tsv"),
      statLines.mkString("\n"))
  }

  private def attemptToken(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** The injectable commit CAS (see [[CommitPrimitive]]): production is
    * [[PosixLinkCommit]]; tests swap in race-losing doubles, an
    * object-store port swaps in its conditional-PUT implementation.
    * Everything else in this object is plain immutable-file IO.
    */
  @volatile private[graft] var commitPrimitive: CommitPrimitive =
    PosixLinkCommit

  /** ONE commit attempt at version `v`: publish the complete record via
    * the commit primitive's atomic create-if-absent. Returns true iff
    * THIS attempt committed `v`; false means a concurrent writer owns
    * `v` (the caller decides: rebase or abort).
    * `batchId < 0` carries the previous watermark forward, resolved at
    * attempt time so a rebase picks up the winner's watermark too.
    */
  private def tryCommit(table: String, v: Int, names: Seq[String],
      batchId: Long, schema: Option[StructType],
      constraints: Seq[(String, String)], dvs: Seq[String] = Seq.empty,
      dvDelta: Map[String, Long] = Map.empty,
      inheritAlso: Option[Int] = None,
      blooms: Seq[String] = Seq.empty): Boolean = {
    val bid = if (batchId >= 0) batchId else lastBatchId(table)
    dirOf(table, "_manifests") // ensure the directory exists
    if (!commitPrimitive.createIfAbsent(manifestPath(table, v),
        renderManifest(Manifest(bid, names, constraints, schema, dvs, blooms))))
      return false
    // Winner's post-commit stats (losers returned above, never here).
    writeStats(table, v, names, dvDelta, inheritAlso, dvs)
    true
  }

  /** Commit for the read-modify-write operations: one shot at `v`; a
    * lost race means the staged content was derived from a stale base —
    * serializable failure, caller re-runs against the new latest.
    */
  private def commitOrConflict(table: String, v: Int, names: Seq[String],
      schema: Option[StructType],
      constraints: Seq[(String, String)], dvs: Seq[String] = Seq.empty,
      dvDelta: Map[String, Long] = Map.empty,
      inheritAlso: Option[Int] = None,
      blooms: Seq[String] = Seq.empty): Int = {
    if (!tryCommit(table, v, names, -1L, schema, constraints, dvs, dvDelta,
        inheritAlso, blooms))
      throw new java.util.ConcurrentModificationException(
        s"version $v of $table was committed concurrently; re-run this " +
          "operation against the new latest version")
    v
  }

  private val MaxCasRetries = 50

  /** Publish `df` as a new version of `table` (a FULL-rewrite commit: the
    * manifest lists only this version's files); returns the version.
    * A blind overwrite depends on no prior state, so a lost commit race
    * safely RETRIES at the next version (last overwrite wins).
    */
  def publish(df: DataFrame, table: String): Int = {
    var enforced: Option[Seq[(String, String)]] = None
    var names: Seq[String] = null
    var tries = 0
    while (tries < MaxCasRetries) {
      val prev = latestVersion(table)
      // Constraints persist across overwrites (table properties, not
      // data); enforce on the incoming frame — re-checked only if a
      // concurrent commit changed the constraint set between attempts.
      val cons = constraintsFor(table, prev)
      val blooms = bloomColumnsFor(table, prev)
      if (!enforced.contains(cons)) { enforce(df, cons, table); enforced = Some(cons) }
      if (names == null) names = stageFiles(df, table, blooms, Some(df.schema))
      if (tryCommit(table, prev + 1, names, -1L, Some(df.schema), cons,
          blooms = blooms))
        return prev + 1
      tries += 1
    }
    throw new IllegalStateException(
      s"publish to $table lost $MaxCasRetries commit races")
  }

  /** EXACTLY-ONCE streaming append — the transactional-sink recipe for
    * `writeStream.foreachBatch`: Structured Streaming re-runs a batch
    * after a failure, so the sink must make `(batchId, data) -> commit`
    * idempotent. The committed batchId rides IN the manifest, so the data
    * commit and the batch record are ONE atomic create — a replayed batch
    * (batchId <= the committed watermark) is a no-op, and there is no
    * crash window where data committed but the batch record didn't.
    * A lost commit race rebases like [[append]] and RE-CHECKS the
    * watermark (the racer may have been the same batch's replay — then
    * this attempt's staged files become vacuum-collectable orphans).
    * Returns true iff this call committed.
    */
  def appendBatch(df: DataFrame, table: String, batchId: Long): Boolean = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    if (batchId <= lastBatchId(table)) return false
    var enforced: Option[Seq[(String, String)]] = None
    var names: Seq[String] = null
    var tries = 0
    while (tries < MaxCasRetries) {
      if (batchId <= lastBatchId(table)) return false
      val prev = latestVersion(table)
      val sch =
        if (prev >= 1) checkedSchema(df, table, prev, mergeSchema = false)
        else Some(df.schema)
      val cons = constraintsFor(table, prev)
      val blooms = bloomColumnsFor(table, prev)
      if (!enforced.contains(cons)) { enforce(df, cons, table); enforced = Some(cons) }
      if (names == null) names = stageFiles(df, table, blooms, sch)
      val base = if (prev >= 1) manifestFiles(table, prev) else Seq.empty
      if (tryCommit(table, prev + 1, base ++ names, batchId, sch, cons,
          dvFiles(table, prev), blooms = blooms))
        return true
      tries += 1
    }
    throw new IllegalStateException(
      s"appendBatch($batchId) to $table lost $MaxCasRetries commit races")
  }

  /** Schema-compat gate for appends into a schema-tracked table: the
    * incoming frame must carry every table column; extra columns EVOLVE
    * the schema (appended, nullable) only under `mergeSchema` — without
    * it they fail loudly instead of silently vanishing behind the
    * declared read schema. Legacy tables (no tracked schema) pass
    * through unchecked, as before tracking existed.
    */
  private def checkedSchema(df: DataFrame, table: String, prev: Int,
      mergeSchema: Boolean): Option[StructType] =
    tableSchema(table, prev).map { cur =>
      val have = df.schema.fieldNames.toSet
      val missing = cur.fieldNames.filterNot(have)
      require(missing.isEmpty,
        s"append into $table is missing table columns: ${missing.mkString(",")}")
      // A type drift would stage files the declared read schema can't
      // decode — fail at commit time, not in some later reader.
      val drift = cur.fields.flatMap { f =>
        df.schema.fields.find(_.name == f.name)
          .filter(_.dataType != f.dataType)
          .map(g => s"${f.name}: ${g.dataType.simpleString} vs table " +
            f.dataType.simpleString)
      }
      require(drift.isEmpty,
        s"append into $table changes column types: ${drift.mkString("; ")}")
      val extra = df.schema.fields.filterNot(f => cur.fieldNames.contains(f.name))
      if (extra.isEmpty) cur
      else {
        require(mergeSchema,
          s"append into $table carries new columns " +
            s"${extra.map(_.name).mkString(",")}; pass mergeSchema = true " +
            "to evolve the table schema")
        extendFields(cur, extra.toSeq)
      }
    }

  /** Stage `df`'s parquet parts into `data/` under attempt-unique
    * immutable names; returns the new file names (not yet committed —
    * orphans until a manifest references them, reusable across commit
    * retries because no other writer can ever produce the same names).
    * `bloomCols` (the table's bloom-index property at the base version)
    * makes parquet-mr write a real BLOOM FILTER per row group for those
    * columns — the write-side half of [[pruneFilesBloom]].
    */
  private def stageFiles(df0: DataFrame, table: String,
      bloomCols: Seq[String] = Seq.empty,
      schema: Option[StructType] = None): Seq[String] = {
    // Column mapping: incoming frames carry LOGICAL names; files carry
    // PHYSICAL names. When the committed schema maps any field, rename
    // at the write boundary (and translate the bloom property's logical
    // names to the physical columns the filter bytes index). The alias
    // re-attaches the field's METADATA — including `parquet.field.id`,
    // which `.as(name)` alone would drop — so every file staged on a
    // mapped table records its stable field id in its own parquet
    // schema (spark.sql.parquet.fieldId.write.enabled, default true)
    // for cross-engine id-resolving readers. Our own scans resolve by
    // physical name ([[scanSchema]]) and tolerate both id-carrying and
    // pre-mapping id-less files.
    val (df, physBloomCols) = schema match {
      case Some(s) if isMapped(s) =>
        import org.apache.spark.sql.functions.col
        val physOfName = s.fields.map(f => f.name -> physOf(f)).toMap
        (df0.select(s.fields.toIndexedSeq.map(f =>
          col(f.name).as(physOf(f), f.metadata)): _*),
          bloomCols.map(b => physOfName.getOrElse(b, b)))
      case _ => (df0, bloomCols)
    }
    val tok = attemptToken()
    val dataDir = dirOf(table, "data")
    val stage = Files.createTempDirectory(Paths.get(table), s"stage-$tok-")
    def write(d: DataFrame): Seq[Path] = {
      val w0 = d.write.mode("overwrite")
      val w = physBloomCols.filter(d.columns.contains).foldLeft(w0) { (w, c) =>
        // NDV hint bounds the filter's size (parquet sizes the bitset
        // from ndv+fpp); 100k at the default 1% fpp is ~120 KB per row
        // group — the point-read index a digest column needs, small next
        // to the data it indexes.
        w.option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c", "100000")
      }
      w.parquet(stage.toString)
      val listing = Files.list(stage)
      try listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
      finally listing.close()
    }
    val first = write(df)
    // An all-empty-partitions frame may legally produce ZERO part files;
    // committing an empty manifest would strand read() with no schema to
    // return. Force one schema-only part instead so an empty commit stays
    // readable as an empty table.
    val parts = if (first.nonEmpty) first else write(df.repartition(1))
    require(parts.nonEmpty, s"no parquet part could be staged for $table")
    val names = parts.zipWithIndex.map { case (p, i) =>
      val name = f"g$tok-part$i%05d.parquet"
      Files.move(p, dataDir.resolve(name))
      name
    }
    val walk = Files.walk(stage)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
    names
  }

  /** APPEND commit: a new version whose manifest is the latest version's
    * file list PLUS `df`'s new files — existing data files are reused
    * byte-for-byte (manifests share immutable files; only the new rows
    * are written). A blind append composes with any concurrent commit, so
    * a lost race REBASES: same staged files, the winner's file list as
    * the new base, schema gate re-run against the winner's schema.
    */
  def append(df: DataFrame, table: String,
      mergeSchema: Boolean = false): Int = {
    require(latestVersion(table) >= 1,
      s"$table has no committed version to append to")
    var enforced: Option[Seq[(String, String)]] = None
    var names: Seq[String] = null
    var tries = 0
    while (tries < MaxCasRetries) {
      val prev = latestVersion(table)
      val sch = checkedSchema(df, table, prev, mergeSchema)
      val cons = constraintsFor(table, prev)
      val blooms = bloomColumnsFor(table, prev)
      if (!enforced.contains(cons)) { enforce(df, cons, table); enforced = Some(cons) }
      if (names == null) names = stageFiles(df, table, blooms, sch)
      if (tryCommit(table, prev + 1, manifestFiles(table, prev) ++ names,
          -1L, sch, cons, dvFiles(table, prev), blooms = blooms))
        return prev + 1
      tries += 1
    }
    throw new IllegalStateException(
      s"append to $table lost $MaxCasRetries commit races")
  }

  /** ADD COLUMN — METADATA-ONLY schema evolution: a new version with the
    * SAME file list and the schema extended by `fields` (forced nullable
    * — existing rows have no value). This is an O(1) commit at any table
    * size: no file is read, rewritten, or moved — the new column exists
    * because the declared read schema says so, and every pre-evolution
    * file null-fills it at scan time. Subsequent [[append]]/[[merge]]
    * commits carry real values; TIME TRAVEL to a pre-evolution version
    * reads the OLD schema (schema is versioned with the data it
    * described). Name collisions fail loudly; a lost commit race is a
    * CONFLICT (the winner may itself have changed the schema). Legacy
    * tables (committed before schema tracking) get their baseline schema
    * derived from the current files once, here.
    */
  def addColumns(spark: SparkSession, table: String,
      fields: StructField*): Int = {
    val prev = latestVersion(table)
    require(prev >= 1, s"$table has no committed version to evolve")
    val base = tableSchema(table, prev)
      .getOrElse(read(spark, table).schema)
    val clash = fields.map(_.name).filter(base.fieldNames.contains)
    require(clash.isEmpty,
      s"$table already has column(s) ${clash.mkString(",")}")
    val evolved = extendFields(base, fields)
    commitOrConflict(table, prev + 1, manifestFiles(table, prev),
      Some(evolved), constraintsFor(table, prev), dvFiles(table, prev),
      blooms = bloomColumnsFor(table, prev))
  }

  /** ADD CHECK CONSTRAINT — a table invariant enforced AT COMMIT TIME on
    * every subsequent write (the Delta `ALTER TABLE ADD CONSTRAINT`
    * semantics): `sqlExpr` is any boolean SQL expression over the table's
    * columns; a publish/append/appendBatch/merge whose incoming rows
    * violate it is REFUSED before anything commits (table unchanged). SQL
    * CHECK null semantics: a row passes when the expression is NULL —
    * non-nullability is its own explicit `x IS NOT NULL` check.
    * Adding the constraint first VALIDATES the current table (one scan —
    * the unavoidable Delta-identical cost of promising an invariant over
    * existing data), then commits METADATA-ONLY: constraints ride in the
    * manifest, atomic with the commit, versioned like the schema (time
    * travel to an earlier version sees that version's constraints; a
    * constraint added at v binds commits FROM v on). Rewrite commits
    * (delete/compact/compactZ) carry rows that were valid when committed
    * and skip re-validation. A lost commit race is a conflict.
    */
  def addConstraint(spark: SparkSession, table: String, name: String,
      sqlExpr: String): Int = {
    val prev = latestVersion(table)
    require(prev >= 1, s"$table has no committed version to constrain")
    val cons = constraintsFor(table, prev)
    require(!cons.exists(_._1 == name),
      s"$table already has a constraint named '$name'")
    enforce(read(spark, table), Seq((name, sqlExpr)), table)
    commitOrConflict(table, prev + 1, manifestFiles(table, prev),
      tableSchema(table, prev), cons :+ ((name, sqlExpr)),
      dvFiles(table, prev), blooms = bloomColumnsFor(table, prev))
  }

  /** DROP CHECK CONSTRAINT — metadata-only; unknown names fail loudly. */
  def dropConstraint(spark: SparkSession, table: String, name: String): Int = {
    val prev = latestVersion(table)
    require(prev >= 1, s"$table has no committed version")
    val cons = constraintsFor(table, prev)
    require(cons.exists(_._1 == name),
      s"$table has no constraint named '$name'")
    commitOrConflict(table, prev + 1, manifestFiles(table, prev),
      tableSchema(table, prev), cons.filterNot(_._1 == name),
      dvFiles(table, prev), blooms = bloomColumnsFor(table, prev))
  }

  /** COMPACTION commit: rewrite the latest version's rows as `n`
    * range-partitioned, internally-sorted files ([[Compaction]]'s layout)
    * and publish them as a new version — same rows, fewer/better files,
    * and the pre-compaction version stays readable (time travel is the
    * undo). The old files are NOT deleted: vacuuming uncommitted/old
    * files is a separate concern from correctness, exactly as in
    * production formats. Read-modify-write: a lost race is a conflict.
    */
  def compact(spark: SparkSession, table: String, n: Int,
      cols: org.apache.spark.sql.Column*): Int = {
    val prev = latestVersion(table)
    val compacted = Compaction.compactToRange(read(spark, table), n, cols: _*)
    val blooms = bloomColumnsFor(table, prev)
    commitOrConflict(table, prev + 1,
      stageFiles(compacted, table, blooms, Some(compacted.schema)),
      Some(compacted.schema), constraintsFor(table, prev), blooms = blooms)
  }

  /** Z-ORDER compaction commit: the latest version's rows rewritten
    * through [[ZOrder.compactToZ]]'s Morton-curve layout as a new
    * version — the two-dimensional sibling of [[compact]], committing
    * files whose footer min/max bound BOTH caller-normalized keys (the
    * layout ZOrderSpec certifies), with the pre-compaction version as
    * the undo. Same stage→CAS commit path as every commit.
    */
  def compactZ(spark: SparkSession, table: String, n: Int,
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): Int = {
    val prev = latestVersion(table)
    val z = ZOrder.compactToZ(read(spark, table), n, a, b)
    val blooms = bloomColumnsFor(table, prev)
    commitOrConflict(table, prev + 1,
      stageFiles(z, table, blooms, Some(z.schema)),
      Some(z.schema), constraintsFor(table, prev), blooms = blooms)
  }

  /** DV list a rewrite commit should carry: the previous version's —
    * unless NO carried file still has masked rows (checked from the
    * per-file masked counts, pure metadata), in which case the list is
    * dropped entirely and later reads lose the anti-join. This is what
    * makes "a full optimize purges the masks" true in the PLAN, not just
    * in the rows: stale vectors for rewritten files never match anything,
    * but carrying them would keep a useless join operator (and its
    * broadcast) in every subsequent read. Files predating count tracking
    * have unknown masked counts and carry conservatively.
    */
  private def carriedDvs(table: String, prev: Int,
      carriedFiles: Seq[String]): Seq[String] = {
    val dvs = dvFiles(table, prev)
    if (dvs.isEmpty) return dvs
    val meta = metaFor(table, prev)
    val anyMasked = carriedFiles
      .exists(n => meta.get(n).map(_._2).getOrElse(1L) > 0L)
    if (anyMasked) dvs else Seq.empty
  }

  /** DELETE commit (row-level, copy-on-write): a new version without the
    * rows matching `pred`. Only files that CONTAIN a matching row are
    * rewritten (filtered); every untouched file is carried into the new
    * manifest byte-for-byte — file-granularity copy-on-write, the shape
    * production formats run for GDPR-style deletes, with the pre-delete
    * version as the time-travel undo. The one driver-side collect is the
    * touched FILE-NAME list — metadata-scale (bounded by file count, the
    * `findTouchedFiles` step of every lakehouse MERGE/DELETE), never rows;
    * at 100 TB the find pass is one predicate scan (prunable by footer
    * min/max when the table is [[compact]]/[[compactZ]]-clustered on the
    * predicate columns) and the rewrite touches only matching files.
    * A delete that matches nothing commits NO new version and returns the
    * current one (the Delta semantics: empty commits are elided).
    * Read-modify-write: a lost commit race is a conflict.
    */
  def deleteWhere(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.not
    val prev = latestVersion(table)
    require(prev >= 1, s"$table has no committed version to delete from")
    val prevNames = manifestFiles(table, prev)
    // Tag the source file at the SCAN (from the parquet `_metadata`
    // column — reliable under any exchange, including the DV anti-join),
    // then find the files holding at least one matching LIVE row.
    val touched: Set[String] =
      readFilesPos(spark, table, prev, prev, prevNames)
        .filter(pred).select("_graft_file").distinct()
        .collect().map(_.getString(0)).toSet
    if (touched.isEmpty) return prev
    val keep = prevNames.filterNot(touched)
    val survivors = readFiles(spark, table, prev,
      prevNames.filter(touched)).filter(not(pred))
    val blooms = bloomColumnsFor(table, prev)
    commitOrConflict(table, prev + 1,
      keep ++ stageFiles(survivors, table, blooms, tableSchema(table, prev)),
      tableSchema(table, prev), constraintsFor(table, prev),
      carriedDvs(table, prev, keep), blooms = blooms)
  }

  /** Read a subset of a version's files UNDER THAT VERSION'S SCHEMA —
    * the rewrite paths (delete/merge) must see evolved columns even in
    * pre-evolution files (null-filled), or a predicate/projection on an
    * evolved column would fail against exactly the files it needs to
    * rewrite. DV-masked rows are filtered out ([[readFilesAt]]).
    */
  private def readFiles(spark: SparkSession, table: String, v: Int,
      names: Seq[String]): DataFrame =
    readFilesAt(spark, table, v, v, names)

  /** [[readFiles]] with the schema version and the DV version decoupled:
    * the change feed reads a step's REMOVED files under the later
    * version's schema but the EARLIER version's deletion vectors (what a
    * reader of v-1 actually saw).
    */
  private def readFilesAt(spark: SparkSession, table: String, schemaV: Int,
      dvV: Int, names: Seq[String]): DataFrame = {
    val base = rawRead(spark, table, schemaV, names)
    if (dvFiles(table, dvV).isEmpty) base
    else readFilesPos(spark, table, schemaV, dvV, names)
      .drop("_graft_file", "_graft_pos")
  }

  /** The plain parquet scan of `names` under version `schemaV`'s declared
    * schema — NO deletion vectors applied (DV-delete and the change feed
    * need the raw rows).
    */
  private def rawRead(spark: SparkSession, table: String, schemaV: Int,
      names: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val paths = names.map(n => Paths.get(table, "data", n).toString)
    tableSchema(table, schemaV) match {
      // Column mapping: files carry PHYSICAL names; scan under the
      // physical schema, then alias to the version's LOGICAL names (one
      // codegen-collapsed projection, only paid when a rename exists).
      case Some(s) if hasAlias(s) =>
        spark.read.schema(scanSchema(physSchema(s))).parquet(paths: _*)
          .select(s.fields.toIndexedSeq.map(f =>
            col(physOf(f)).as(f.name)): _*)
      case Some(s) => spark.read.schema(scanSchema(s)).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Tag each scanned row with its physical address — file base name and
    * row index within the file — computed AT THE SCAN from the parquet
    * `_metadata` column (reliable under any later exchange, unlike
    * `input_file_name()`). The file is `_metadata.file_name`, a per-file
    * constant the scan fills once per file, not a per-row decode and
    * split of `file_path`. Staged names ([[stageFiles]]:
    * `g<token>-part<NNNNN>.parquet`) need no URI escaping, so this is the
    * same string a path split yields, and DV parquets written either way
    * address the same rows.
    */
  private def withPos(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("_graft_file", col("_metadata.file_name"))
      .withColumn("_graft_pos", col("_metadata.row_index"))
  }

  /** Version `dvV`'s deletion vectors as a DataFrame of masked physical
    * addresses (`file` base name, `pos` row index), or None when the
    * version carries none — the common case, where every read path stays
    * a plain scan with ZERO added operators.
    */
  private def deletionVectors(spark: SparkSession, table: String,
      dvV: Int): Option[DataFrame] = {
    val dvs = dvFiles(table, dvV)
    if (dvs.isEmpty) None
    else Some(spark.read.parquet(
      dvs.map(n => Paths.get(table, "data", n).toString): _*))
  }

  /** Position-tagged, DV-applied scan: the version's rows (masked rows
    * removed by ONE left-anti join against the committed DV set — the
    * merge-on-read cost, AQE-broadcast when the DV side is small) plus
    * `_graft_file`/`_graft_pos` physical-address columns. Rows of files
    * outside `names` never match (file name is part of the join key), and
    * stale DV entries for files no longer in the manifest match nothing.
    */
  private def readFilesPos(spark: SparkSession, table: String, schemaV: Int,
      dvV: Int, names: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = withPos(rawRead(spark, table, schemaV, names))
    deletionVectors(spark, table, dvV) match {
      case None => base
      case Some(dv) =>
        val d = dv.select(col("file").as("_dv_file"), col("pos").as("_dv_pos"))
        base.join(d, base("_graft_file") === d("_dv_file") &&
          base("_graft_pos") === d("_dv_pos"), "left_anti")
    }
  }

  /** MERGE commit (upsert-as-commit, last-writer-wins on `key`): rows of
    * `delta` REPLACE current rows sharing their key and INSERT otherwise,
    * as one transactional version — the `pipeline_upsert` decision rule
    * committed under the same stage→CAS contract, with the pre-merge
    * version as undo. File-granularity copy-on-write: touched files =
    * files holding a key present in `delta` (one scan semi-joined
    * against the delta keys — broadcast when delta is dimension-sized);
    * only their non-delta-key rows are rewritten, delta rows become new
    * files, untouched files carry over byte-for-byte. Driver-side collect
    * is the same metadata-scale file-name list as [[deleteWhere]].
    * `delta` must carry the table's columns (matched by name).
    * Read-modify-write: a lost commit race is a conflict.
    *
    * TOMBSTONES (`deleteFlag`): a CDC feed is upserts AND deletes in one
    * batch, and they must land in ONE transaction (a reader must never
    * see the upserts without the deletes). When `deleteFlag` names a
    * boolean column of `delta`, flagged rows are tombstones: their keys
    * are REMOVED (they still count toward the touched-file set — a
    * tombstoned key's file must be rewritten — but contribute no output
    * row), unflagged rows upsert as usual. The flag column itself is
    * not written to the table.
    */
  def merge(spark: SparkSession, table: String, delta: DataFrame,
      key: String, deleteFlag: Option[String] = None): Int = {
    val prev = latestVersion(table)
    require(prev >= 1, s"$table has no committed version to merge into")
    val (names, cons, dvs, blooms) = mergeDerive(spark, table, prev, delta,
      key, deleteFlag)
    commitOrConflict(table, prev + 1, names, tableSchema(table, prev),
      cons, dvs, blooms = blooms)
  }

  /** Derive one merge attempt's manifest content against base version
    * `prev`: stage the rewritten+upserted rows and return (file list,
    * constraints, carried DVs, bloom property). Shared by [[merge]]
    * (one shot, conflict on lost race) and [[mergeBatch]] (re-derives
    * against the new base on a lost race).
    */
  private def mergeDerive(spark: SparkSession, table: String, prev: Int,
      delta: DataFrame, key: String, deleteFlag: Option[String])
      : (Seq[String], Seq[(String, String)], Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.{col, not}
    val prevNames = manifestFiles(table, prev)
    val cur = read(spark, table, Some(prev))
    val upserts = deleteFlag match {
      case Some(f) => delta.filter(not(col(f)))
      case None => delta
    }
    val aligned = upserts.select(cur.columns.map(col).toIndexedSeq: _*)
    // CHECK constraints bind the incoming upserts (tombstones remove
    // rows — they are not data and are exempt); carried rewritten rows
    // were valid when committed.
    val cons = constraintsFor(table, prev)
    enforce(aligned, cons, table)
    // Touched files are found against ALL delta keys (tombstoned keys
    // included — deleting a row rewrites its file too).
    val keys = delta.select(key).distinct()
    // BLOOM-ACCELERATED findTouchedFiles: when the merge key carries a
    // bloom index and the delta is small (≤1000 distinct keys — the
    // hourly-CDC shape), the candidate set comes from FILTER BYTES, not
    // a table scan: a file whose filters prove absence of every delta
    // key provably holds no row to rewrite (bloom has no false
    // negatives, so the narrowing is sound; false positives only add
    // scanned files). The ≤1001-key collect is driver-bounded by
    // construction; bigger deltas fall back to the full find scan,
    // whose cost the delta's own size then justifies.
    val scanNames =
      if (!bloomColumnsFor(table, prev).contains(key)) prevNames
      else {
        // Null keys can't match any bloom entry (parquet filters hold
        // only non-null values) — drop them from the probe set; they
        // still participate in the join-based touched-file find below.
        // Probe types the filter reader doesn't support (Short/Byte/
        // Decimal/Date/...) degrade to the full scan, never a crash.
        val ks = keys.limit(1001).collect().map(_.get(0)).toSeq
        val probes = ks.filter(_ != null)
        val supported = probes.forall {
          case _: Int | _: Long | _: Float | _: Double | _: String |
               _: Array[Byte] => true
          case _ => false
        }
        if (ks.size > 1000 || !supported) prevNames
        else if (probes.isEmpty) Seq.empty // all-null delta touches nothing
        else pruneFilesBloomAny(table, key, probes, Some(prev))._1
      }
    val touched: Set[String] =
      if (scanNames.isEmpty) Set.empty
      else readFilesPos(spark, table, prev, prev, scanNames)
        .join(keys, Seq(key), "left_semi")
        .select("_graft_file").distinct()
        .collect().map(_.getString(0)).toSet
    val keep = prevNames.filterNot(touched)
    val touchedNames = prevNames.filter(touched)
    val newData =
      if (touchedNames.isEmpty) aligned
      else readFiles(spark, table, prev, touchedNames)
        .join(keys, Seq(key), "left_anti")
        .select(cur.columns.map(col).toIndexedSeq: _*)
        .unionByName(aligned)
    val blooms = bloomColumnsFor(table, prev)
    (keep ++ stageFiles(newData, table, blooms, tableSchema(table, prev)),
      cons, carriedDvs(table, prev, keep), blooms)
  }

  /** EXACTLY-ONCE STREAMING MERGE — the upsert face of [[appendBatch]],
    * completing the table's streaming-sink story: a CDC/upsert stream
    * lands via `writeStream.foreachBatch((df, id) => mergeBatch(df, ...,
    * id))`, and Structured Streaming's batch replays are absorbed by the
    * SAME hinge as appendBatch — the committed batchId rides IN the
    * manifest, so the merged data and the batch record are one atomic
    * create, a replayed batch (batchId <= watermark) is a no-op, and
    * there is no crash window where the upserts landed but the batch
    * record didn't (or vice versa). Unlike appendBatch (blind add,
    * rebase on lost race), a merge's staged content is DERIVED from its
    * base version — so a lost commit race RE-DERIVES the whole merge
    * against the new latest (the loser's staged files become
    * vacuum-collectable orphans), re-checking the watermark each
    * attempt in case the racer was this same batch's replay on another
    * driver. Returns true iff this call committed. Tombstone semantics
    * as in [[merge]].
    */
  def mergeBatch(spark: SparkSession, table: String, delta: DataFrame,
      key: String, batchId: Long,
      deleteFlag: Option[String] = None): Boolean = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    require(latestVersion(table) >= 1,
      s"$table has no committed version to merge into")
    var tries = 0
    while (tries < MaxCasRetries) {
      if (batchId <= lastBatchId(table)) return false
      val prev = latestVersion(table)
      val (names, cons, dvs, blooms) = mergeDerive(spark, table, prev,
        delta, key, deleteFlag)
      if (tryCommit(table, prev + 1, names, batchId, tableSchema(table, prev),
          cons, dvs, blooms = blooms)) return true
      tries += 1
    }
    throw new IllegalStateException(
      s"mergeBatch($batchId) into $table lost $MaxCasRetries commit races")
  }

  /** DELETE commit, MERGE-ON-READ (deletion vectors): mask the rows
    * matching `pred` WITHOUT rewriting a single data file — the commit
    * stages only a parquet of masked physical addresses (`file` base
    * name, `pos` row index from the scan's `_metadata.row_index`) and
    * publishes a manifest with the SAME data files plus the new DV. This
    * is the modern Delta/Iceberg delete shape and the one that matters at
    * 100 TB: copy-on-write pays a full rewrite of every touched file to
    * delete one row (a 1 GB rewrite per tombstone under a uniform
    * predicate); merge-on-read pays O(matched rows) at write time and
    * defers the rewrite to the next [[optimize]]/[[compact]], which
    * purges the masks. The trade is read amplification until then: every
    * read of a DV-carrying version adds ONE left-anti join against the
    * committed DV set (AQE-broadcast while deletes are small; a DV-less
    * version reads with zero added operators).
    *
    * DVs are CUMULATIVE and append-shaped: this commit's manifest lists
    * the previous DV parquets plus the new one — O(new deletes), nothing
    * rewritten, fully distributed (no driver row collect at all; even
    * the empty-match elision reads staged FOOTERS, not rows). Re-deleting
    * already-masked rows is a no-op by construction: the find pass scans
    * the DV-applied table, so masked rows cannot rematch. Rows arriving
    * by later [[append]]/[[merge]] are new files the masks never touch.
    * The pre-delete version is the time-travel undo; [[restore]] undoes
    * it as a commit. Read-modify-write: a lost commit race is a conflict.
    */
  def deleteWhereDV(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.col
    val prev = latestVersion(table)
    require(prev >= 1, s"$table has no committed version to delete from")
    val names = manifestFiles(table, prev)
    val hit = readFilesPos(spark, table, prev, prev, names).filter(pred)
      .select(col("_graft_file").as("file"), col("_graft_pos").as("pos"))
    val dvNew = stageFiles(hit, table)
    // Empty-match elision from the staged FOOTERS (no second data scan):
    // a delete that masked nothing commits no version; the staged parts
    // become vacuum-collectable orphans like any lost race's.
    val dvPaths = dvNew.map(n => Paths.get(table, "data", n))
    if (dvPaths.map(footerRowCount).sum == 0L) return prev
    // Per-data-file masked counts ride in the stats TSV so [[rowCount]]
    // stays metadata-only; the collect is bounded by TOUCHED FILE count
    // (the same metadata scale as findTouchedFiles), never by rows.
    val maskedPerFile: Map[String, Long] =
      spark.read.parquet(dvPaths.map(_.toString): _*)
        .groupBy(col("file")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    commitOrConflict(table, prev + 1, names, tableSchema(table, prev),
      constraintsFor(table, prev), dvFiles(table, prev) ++ dvNew,
      maskedPerFile, blooms = bloomColumnsFor(table, prev))
  }

  /** OPTIMIZE — bin-packing small-file compaction, the maintenance
    * operation a 100 TB table can actually afford to run continuously:
    * unlike [[compact]]/[[compactZ]] (full-table rewrites that re-cluster
    * everything), optimize rewrites ONLY files smaller than `targetBytes`,
    * first-fit-packed into bins of ~`targetBytes` (one coalesced rewrite
    * job per bin — exactly Delta OPTIMIZE's shape), and carries every
    * right-sized file into the new manifest byte-for-byte. Cost is
    * O(small files), whatever the table size; the candidate selection is
    * pure file-length metadata. Rewritten bins read DV-APPLIED, so
    * optimize is also the step that PURGES accumulated deletion-vector
    * masks from the files it touches (carried files keep theirs). Commits
    * nothing when fewer than two files are packable. Read-modify-write:
    * a lost commit race is a conflict.
    */
  def optimize(spark: SparkSession, table: String,
      targetBytes: Long): Int = {
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    val prev = latestVersion(table)
    require(prev >= 1, s"$table has no committed version to optimize")
    val names = manifestFiles(table, prev)
    val small = names
      .map(n => n -> Files.size(Paths.get(table, "data", n)))
      .filter(_._2 < targetBytes)
    if (small.size < 2) return prev
    // First-fit-decreasing bin packing on the on-disk sizes.
    val binSize = scala.collection.mutable.ArrayBuffer.empty[Long]
    val binFiles = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[String]]
    small.sortBy(-_._2).foreach { case (n, sz) =>
      val i = binSize.indexWhere(_ + sz <= targetBytes)
      if (i >= 0) { binSize(i) += sz; binFiles(i) += n }
      else { binSize += sz; binFiles += scala.collection.mutable.ArrayBuffer(n) }
    }
    val packed = binFiles.map(_.toSeq).toSeq
    val blooms = bloomColumnsFor(table, prev)
    val staged = packed.flatMap { bin =>
      stageFiles(readFiles(spark, table, prev, bin).coalesce(1), table,
        blooms, tableSchema(table, prev))
    }
    val smallSet = small.map(_._1).toSet
    commitOrConflict(table, prev + 1,
      names.filterNot(smallSet) ++ staged, tableSchema(table, prev),
      constraintsFor(table, prev),
      carriedDvs(table, prev, names.filterNot(smallSet)), blooms = blooms)
  }

  /** ADD BLOOM-FILTER INDEX — a versioned table property (the Delta
    * `delta.bloomFilter` / Iceberg bloom write-property semantics):
    * from this commit on, every file a write stages carries a real
    * parquet-mr BLOOM FILTER per row group for `column`, and
    * [[pruneFilesBloom]]/[[readPoint]] can skip files that PROVABLY do
    * not contain a point-read value. This is the index min/max stats
    * cannot be: a high-cardinality UNCLUSTERED column (a content digest,
    * a UUID) has every file spanning the whole value range, so range
    * stats prune nothing — while a bloom answers "definitely not in this
    * file" per value. The commit itself is METADATA-ONLY: existing files
    * have no filter and stay conservatively kept; the next
    * compact/compactZ/optimize materializes filters for the files it
    * rewrites (layout maintenance and index materialization are one
    * pass). Dropping the index stops future writes from paying the
    * filter bytes; existing filters are inert. Lost race = conflict.
    */
  def addBloomIndex(table: String, column: String): Int = {
    val prev = latestVersion(table)
    require(prev >= 1, s"$table has no committed version to index")
    val cur = bloomColumnsFor(table, prev)
    require(!cur.contains(column),
      s"$table already has a bloom index on '$column'")
    commitOrConflict(table, prev + 1, manifestFiles(table, prev),
      tableSchema(table, prev), constraintsFor(table, prev),
      dvFiles(table, prev), blooms = cur :+ column)
  }

  /** DROP BLOOM-FILTER INDEX — metadata-only; unknown columns loud. */
  def dropBloomIndex(table: String, column: String): Int = {
    val prev = latestVersion(table)
    require(prev >= 1, s"$table has no committed version")
    val cur = bloomColumnsFor(table, prev)
    require(cur.contains(column),
      s"$table has no bloom index on '$column'")
    commitOrConflict(table, prev + 1, manifestFiles(table, prev),
      tableSchema(table, prev), constraintsFor(table, prev),
      dvFiles(table, prev), blooms = cur.filterNot(_ == column))
  }

  /** Partition version `v`'s files into (kept, skipped) for the POINT
    * predicate `column = value`, by testing each file's parquet BLOOM
    * FILTERS: a file is skipped only when EVERY row group carries a
    * filter for the column and NONE can contain the value's hash (the
    * bloom no-false-negative guarantee makes the skip sound; false
    * positives only cost a kept file). Files without filters (written
    * before [[addBloomIndex]], or the column was never indexed) are
    * conservatively kept. Cost is O(files) footer+filter reads — filter
    * bytes, never data pages. `value`: String, Long/Int, or Double,
    * hashed exactly as parquet-mr hashed the written values.
    */
  def pruneFilesBloom(table: String, column: String, value: Any,
      version: Option[Int] = None): (Seq[String], Seq[String]) =
    pruneFilesBloomAny(table, column, Seq(value), version)

  /** Multi-value [[pruneFilesBloom]]: keep a file if ANY of `values`
    * might be present (each file's footer and filters are loaded ONCE and
    * probed with every value — O(files) filter reads however many values,
    * not O(files × values) footer opens). This is the file-skipping a
    * small MERGE delta needs: the candidate set for "which files hold any
    * of these K keys" comes from filter bytes, not a table scan.
    */
  def pruneFilesBloomAny(table: String, column: String, values: Seq[Any],
      version: Option[Int] = None): (Seq[String], Seq[String]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    require(values.nonEmpty, "at least one probe value")
    val v = version.getOrElse(latestVersion(table))
    require(v >= 1, s"$table has no committed version")
    // Files carry PHYSICAL column names; `column` is logical.
    val phys = physNameAt(table, v, column)
    manifestFiles(table, v).partition { n =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(Paths.get(table, "data", n).toUri),
        footerConf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        // Keep unless every row group proves absence of every value.
        blocks.isEmpty || blocks.exists { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == phys) match {
            case None => true // column chunk missing: cannot prove, keep
            case Some(cc) =>
              val bf = reader.getBloomFilterDataReader(b).readBloomFilter(cc)
              if (bf == null) true // no filter written: keep
              else values.exists { value =>
                // Hash by the column's PHYSICAL type, not the probe's JVM
                // type: parquet-mr hashed the written values through the
                // physical-width overload (hash(int) feeds 4 bytes to
                // xxhash, hash(long) 8), so an Int probe against an INT32
                // column MUST use hash(int) — hash(i.toLong) produces a
                // different digest and a false "proven absent" (a bloom
                // false NEGATIVE, breaking readPoint and merge).
                import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
                val phys = cc.getPrimitiveType.getPrimitiveTypeName
                // None = the value provably cannot appear in a column of
                // this physical type (e.g. a Long outside Int range vs
                // INT32) — a sound skip without touching the filter.
                val h: Option[Long] = (phys, value) match {
                  case (INT32, i: Int) => Some(bf.hash(i))
                  case (INT32, l: Long) =>
                    if (l.isValidInt) Some(bf.hash(l.toInt)) else None
                  case (INT64, l: Long) => Some(bf.hash(l))
                  case (INT64, i: Int) => Some(bf.hash(i.toLong))
                  case (FLOAT, f: Float) => Some(bf.hash(f))
                  case (FLOAT, d: Double) =>
                    if (d.toFloat.toDouble == d || d.isNaN) Some(bf.hash(d.toFloat))
                    else None
                  case (DOUBLE, d: Double) => Some(bf.hash(d))
                  case (DOUBLE, f: Float) => Some(bf.hash(f.toDouble))
                  case (BINARY, s: String) => Some(bf.hash(Binary.fromString(s)))
                  case (BINARY, bs: Array[Byte]) =>
                    Some(bf.hash(Binary.fromConstantByteArray(bs)))
                  case (p, x) => throw new IllegalArgumentException(
                    s"unsupported bloom probe: ${x.getClass} against physical type $p")
                }
                h.exists(bf.findHash)
              }
          }
        }
      } finally reader.close()
    }
  }

  /** Point read `column = value` through the bloom index: scan only the
    * files [[pruneFilesBloom]] keeps, apply the equality as the residual
    * row filter (blooms bound files, not rows — false positives die
    * here), deletion vectors applied as in any read. Semantically
    * identical to `read(...).filter(col === value)` — BloomIndexSpec
    * pins the equality — but on a digest-keyed corpus the scan list is
    * O(files actually holding the value) instead of O(table), the
    * "which shard holds this document" lookup a dedup pipeline runs
    * constantly.
    */
  def readPoint(spark: SparkSession, table: String, column: String,
      value: Any, version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = version.getOrElse(latestVersion(table))
    require(v >= 1, s"$table has no committed version")
    val (keep, _) = pruneFilesBloom(table, column, value, Some(v))
    if (keep.isEmpty) {
      val sch = tableSchema(table, v).getOrElse(read(spark, table, Some(v)).schema)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch)
    } else readFiles(spark, table, v, keep).filter(col(column) === lit(value))
  }

  /** RESTORE — roll the table back to `toVersion` AS A NEW COMMIT (the
    * Delta `RESTORE TABLE ... TO VERSION AS OF` semantics): the new
    * manifest republishes the target's exact file list, schema, deletion
    * vectors, and CHECK constraints, so `read(latest)` becomes
    * byte-identical to `read(toVersion)` while history stays intact —
    * the restore is itself undoable (by another restore), nothing is
    * deleted, and data files move zero bytes (files are immutable and
    * shared across manifests; the commit is metadata-only). Requires the
    * target version to still be retained — a vacuumed target fails
    * loudly at manifest resolution, never restores silently wrong.
    * Restoring to the current version is an explicit no-op (returns it).
    * Read-modify-write: a lost commit race is a conflict.
    */
  def restore(table: String, toVersion: Int): Int = {
    val prev = latestVersion(table)
    require(prev >= 1, s"$table has no committed version")
    require(toVersion >= 1 && toVersion <= prev,
      s"cannot restore $table to version $toVersion (committed range is [1, $prev])")
    if (toVersion == prev) return prev
    val m = readManifest(table, toVersion)
    commitOrConflict(table, prev + 1, m.files, m.schema, m.constraints,
      m.dvs, Map.empty, Some(toVersion), m.blooms)
  }

  /** Metadata-only COUNT(*): the version's exact row count computed from
    * the committed stats alone — per-file footer row counts minus the
    * per-file DV-masked counts, both recorded at commit time — without
    * opening a single data file. This is the Iceberg/Delta property that
    * a 100 TB table's cardinality is a manifest read, not a scan. Returns
    * None when any manifest file predates count tracking (unknown is
    * never reported as a number); SnapshotsDvSpec pins equality with
    * `read(...).count()` across the whole commit-type matrix.
    */
  def rowCount(table: String, version: Option[Int] = None): Option[Long] = {
    val v = version.getOrElse(latestVersion(table))
    require(v >= 1, s"$table has no committed version")
    val names = manifestFiles(table, v)
    val meta = metaFor(table, v)
    val counts = names.map(meta.get)
    if (counts.exists(_.isEmpty)) None
    else Some(counts.flatten.map { case (rows, masked) => rows - masked }.sum)
  }

  /** Partition version `v`'s files into (kept, skipped) for a range
    * predicate `column BETWEEN lo AND hi`, using only the committed
    * per-file stats — no file is opened. A file is skipped ONLY when its
    * recorded [min,max] provably cannot intersect [lo,hi]; files with no
    * stats for `column` (crashed stats window, non-numeric or all-null
    * columns) are conservatively kept. On a [[compact]]/[[compactZ]]-
    * clustered table this is the metadata-only file skipping that makes
    * a 100 TB range read O(matching files): the driver reads one small
    * TSV, not N footers.
    */
  def pruneFiles(table: String, column: String, lo: Long, hi: Long,
      version: Option[Int] = None): (Seq[String], Seq[String]) =
    pruneFilesMulti(table, Seq((column, lo, hi)), version)

  /** Multi-dimensional [[pruneFiles]]: a file survives only if its stats
    * overlap EVERY (column, lo, hi) range (conjunctive predicate). This
    * is where the [[compactZ]] Morton layout pays off: a Z-ordered
    * table's files bound BOTH curve dimensions tightly, so a 2-D range
    * probe skips on whichever dimension excludes the file — the
    * single-dimension range layout can only ever skip on its sort key.
    */
  def pruneFilesMulti(table: String, ranges: Seq[(String, Long, Long)],
      version: Option[Int] = None): (Seq[String], Seq[String]) = {
    require(ranges.nonEmpty, "at least one (column, lo, hi) range")
    val v = version.getOrElse(latestVersion(table))
    val stats = statsFor(table, v)
    // Stats lines carry PHYSICAL column names (they come from footers);
    // the caller speaks logical — translate per the version's mapping.
    val physRanges = ranges.map { case (c, lo, hi) =>
      (physNameAt(table, v, c), lo, hi) }
    manifestFiles(table, v).partition { n =>
      physRanges.forall { case (column, lo, hi) =>
        stats.get(n).flatMap(_.get(column)) match {
          case Some(("L", mn, mx)) => !(mx.toLong < lo || mn.toLong > hi)
          case Some(("S", _, _)) => true // string stat, numeric range: keep
          case Some((_, mn, mx)) => !(mx.toDouble < lo || mn.toDouble > hi)
          case None => true // no stats: cannot prove non-overlap, keep
        }
      }
    }
  }

  /** Range read with manifest-stats file skipping: scan only the files
    * [[pruneFiles]] keeps, then apply `column BETWEEN lo AND hi` as the
    * residual row filter (stats bound files, not rows). Semantically
    * identical to `read(...).filter(between)` — SnapshotsStatsSpec pins
    * the equality — but the plan's file list is pruned before Spark ever
    * lists or opens a skipped file.
    */
  def readRange(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long, version: Option[Int] = None): DataFrame =
    readRanges(spark, table, Seq((column, lo, hi)), version)

  /** Conjunctive multi-range read over [[pruneFilesMulti]]'s kept files,
    * with every range applied as a residual row filter. On a Z-ordered
    * table this is the 2-D point/box query the Morton layout exists for.
    */
  def readRanges(spark: SparkSession, table: String,
      ranges: Seq[(String, Long, Long)],
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = version.getOrElse(latestVersion(table))
    require(v >= 1, s"$table has no committed version")
    val (keep, _) = pruneFilesMulti(table, ranges, Some(v))
    if (keep.isEmpty) {
      val sch = tableSchema(table, v).getOrElse(read(spark, table, Some(v)).schema)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch)
    } else ranges.foldLeft(readFiles(spark, table, v, keep)) {
      case (df, (column, lo, hi)) =>
        df.filter(col(column) >= lo && col(column) <= hi)
    }
  }

  /** MULTI-POINT read: `column IN (values)` with manifest-stats file
    * skipping — the batched form of N single-cell [[readRange]] calls
    * (round 13: the snapshot-served ANN query issued one readRange per
    * probed cell, i.e. N manifest/stats reads and N scan nodes unioned;
    * a request's whole probe set is ONE disjunctive point read). A file
    * survives iff SOME probed value falls inside its [min,max] — for
    * sorted values a binary search per file — and the `isin` residual
    * filters rows exactly, so the result is semantically identical to
    * `read(...).filter(col.isin(values))` and to the union of the
    * per-value readRange calls (SnapshotsStatsSpec pins both).
    * Files with no numeric stat for the column are kept conservatively.
    */
  def readPoints(spark: SparkSession, table: String, column: String,
      values: Seq[Long], version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty, "readPoints: at least one probe value")
    val v = version.getOrElse(latestVersion(table))
    require(v >= 1, s"$table has no committed version")
    val stats = statsFor(table, v)
    val phys = physNameAt(table, v, column)
    val sorted = values.distinct.sorted.toArray
    val keep = manifestFiles(table, v).filter { n =>
      stats.get(n).flatMap(_.get(phys)) match {
        case Some(("L", mn, mx)) =>
          val lo = mn.toLong
          val i = java.util.Arrays.binarySearch(sorted, lo)
          val from = if (i >= 0) i else -i - 1
          from < sorted.length && sorted(from) <= mx.toLong
        case Some(("S", _, _)) => true // string stat, numeric probe: keep
        case Some((_, mn, mx)) => // double stats: envelope check only
          !(mx.toDouble < sorted.head || mn.toDouble > sorted.last)
        case None => true // no stats: cannot prove non-overlap, keep
      }
    }
    if (keep.isEmpty) {
      val sch = tableSchema(table, v).getOrElse(read(spark, table, Some(v)).schema)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch)
    } else readFiles(spark, table, v, keep)
      .filter(col(column).isin(sorted.map(Long.box): _*))
  }

  /** STRING-EQUALITY file pruning — the `lang = 'en'` point-read shape a
    * corpus table serves constantly. A file is skipped when the predicate
    * value falls outside its recorded UTF8 [min,max] under the SAME
    * unsigned-byte order parquet used to compute them ([[bytesCompare]]
    * both sides — mixing orderings here is the classic stats-pruning
    * correctness bug). Files with no string stat for the column (legacy
    * version, all-null chunk set) are kept conservatively; a NULL
    * predicate value matches nothing and is rejected loudly.
    */
  def pruneFilesEq(table: String, column: String, value: String,
      version: Option[Int] = None): (Seq[String], Seq[String]) = {
    require(value != null, "equality pruning on NULL matches no row")
    val v = version.getOrElse(latestVersion(table))
    val stats = statsFor(table, v)
    val phys = physNameAt(table, v, column)
    val vb = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b64 = java.util.Base64.getDecoder
    manifestFiles(table, v).partition { n =>
      stats.get(n).flatMap(_.get(phys)) match {
        case Some(("S", mn, mx)) =>
          bytesCompare(vb, b64.decode(mn)) >= 0 &&
            bytesCompare(vb, b64.decode(mx)) <= 0
        case _ => true // numeric/absent stat: cannot prove exclusion, keep
      }
    }
  }

  /** Point read `column = value` over [[pruneFilesEq]]'s kept files with
    * the equality as the residual row filter. On a table clustered on
    * `column` (e.g. [[compact]] range layout) this opens O(matching
    * files); unclustered layouts degrade to a full scan, never to a
    * wrong answer.
    */
  def readEq(spark: SparkSession, table: String, column: String,
      value: String, version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = version.getOrElse(latestVersion(table))
    require(v >= 1, s"$table has no committed version")
    val (keep, _) = pruneFilesEq(table, column, value, Some(v))
    if (keep.isEmpty) {
      val sch = tableSchema(table, v).getOrElse(read(spark, table, Some(v)).schema)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch)
    } else readFiles(spark, table, v, keep).filter(col(column) === value)
  }

  /** CHANGE DATA FEED: the rows that changed AFTER `fromVersion`, up to
    * and including `toVersion` (default latest), tagged `_change_type`
    * ('insert' | 'delete' — an update is its delete+insert pair) and
    * `_commit_version`. Because data files are immutable and every
    * version is a manifest, the feed needs NO commit-time change log:
    * per version step, rows of (manifest(v) \ manifest(v-1)) files are
    * candidate inserts, rows of (manifest(v-1) \ manifest(v)) candidate
    * deletes, and the bag-difference (`exceptAll`) cancels the rows a
    * copy-on-write rewrite merely CARRIED into a new file — so a
    * compaction (same rows, new files) correctly yields an EMPTY feed,
    * and a metadata-only commit diffs as nothing without reading a byte.
    * Cost per step is O(files the commit touched), never O(table) —
    * exactly the bound the copy-on-write writers guarantee — and the
    * diff is one hash-exchange over those rows (exceptAll), no window,
    * no driver rows. Every step binds to the END version's schema (the
    * Delta-CDF contract): evolved-column backfills diff as the value
    * changes they are, pre-evolution steps null-fill later columns,
    * renamed columns surface under the END version's logical names (the
    * stable physical mapping resolves every step's files), and columns
    * the end version dropped leave the feed. This is the reader-side dual of
    * incremental view maintenance: a downstream aggregate consumes the
    * feed instead of rescanning history (`pipeline_incremental_agg`
    * holds the writer-side half).
    */
  def changesBetween(spark: SparkSession, table: String, fromVersion: Int,
      toVersion: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val latest = latestVersion(table)
    val to = toVersion.getOrElse(latest)
    // fromVersion = 0 is the BOOTSTRAP read: version 1's full content
    // surfaces as the first step's inserts (the "starting snapshot +
    // subsequent changes" contract a streaming consumer needs).
    require(fromVersion >= 0 && fromVersion <= to && to <= latest,
      s"change range ($fromVersion, $to] outside committed range [1, $latest]")
    val steps = ((fromVersion + 1) to to).flatMap { v =>
      val prevF =
        if (v == 1) Set.empty[String] else manifestFiles(table, v - 1).toSet
      val curF = manifestFiles(table, v).toSet
      val added = (curF -- prevF).toSeq.sorted
      val removed = (prevF -- curF).toSeq.sorted
      def tag(df: DataFrame, typ: String) =
        df.withColumn("_change_type", lit(typ))
          .withColumn("_commit_version", lit(v.toLong))
      // A merge-on-read DELETE changes no data files — the step's deletes
      // are the rows this commit's NEW deletion vectors mask, read raw
      // (unmasked) from the CARRIED files and semi-joined against the DV
      // delta. File sides read with SIDE-SPECIFIC DVs: removed files
      // under v-1's vectors (what a reader of v-1 saw), added/carried
      // under v's — so a compaction that purges masks still diffs empty.
      val dvAdded = (dvFiles(table, v).toSet --
        (if (v == 1) Set.empty[String] else dvFiles(table, v - 1).toSet))
        .toSeq.sorted
      val dvDeletes =
        if (dvAdded.isEmpty) Seq.empty
        else {
          import org.apache.spark.sql.functions.col
          val carried = (curF intersect
            (if (v == 1) curF else prevF)).toSeq.sorted
          val dv = spark.read.parquet(
            dvAdded.map(n => Paths.get(table, "data", n).toString): _*)
            .select(col("file").as("_dv_file"), col("pos").as("_dv_pos"))
          val raw = withPos(rawRead(spark, table, to, carried))
          Seq(tag(raw.join(dv, raw("_graft_file") === dv("_dv_file") &&
            raw("_graft_pos") === dv("_dv_pos"), "left_semi")
            .drop("_graft_file", "_graft_pos"), "delete"))
        }
      val fileSteps = (added.nonEmpty, removed.nonEmpty) match {
        case (false, false) => Seq.empty // metadata-only or DV-only commit
        case (true, false) =>
          Seq(tag(readFilesAt(spark, table, to, v, added), "insert"))
        case (false, true) =>
          Seq(tag(readFilesAt(spark, table, to, v - 1, removed), "delete"))
        case _ =>
          val a = readFilesAt(spark, table, to, v, added)
          val r = readFilesAt(spark, table, to, v - 1, removed)
          Seq(tag(a.exceptAll(r), "insert"), tag(r.exceptAll(a), "delete"))
      }
      fileSteps ++ dvDeletes
    }
    steps.reduceOption(_.unionByName(_)).getOrElse {
      val base = tableSchema(table, to)
        .getOrElse(read(spark, table, Some(to)).schema)
      val sch = StructType(base.fields ++ Seq(
        StructField("_change_type", StringType),
        StructField("_commit_version", LongType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch)
    }
  }

  /** Read a committed version (default: latest). Only manifest-listed
    * files are loaded — orphaned data files are invisible by design, and
    * a version EXISTS exactly when its manifest does (manifests appear
    * only by atomic create of a complete record, so there is no
    * "manifest present but uncommitted" state to guard against; absent
    * or vacuumed versions fail loudly at manifest resolution).
    */
  def read(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(table))
    require(v >= 1, s"$table has no committed version")
    readFiles(spark, table, v, manifestFiles(table, v))
  }

  /** TIMESTAMP time travel — resolve the newest version whose commit
    * record was written at or before `asOfMillis` (manifest file mtime,
    * exactly Delta's TIMESTAMP AS OF mechanics, with the same honest
    * caveats: wall-clock resolution is the filesystem's, and under
    * concurrent commits two adjacent versions can share a millisecond —
    * ties resolve to the HIGHEST qualifying version, the serialization
    * order). Vacuumed versions no longer qualify (their manifests are
    * gone); a timestamp before the oldest retained commit fails loudly.
    */
  def versionAsOf(table: String, asOfMillis: Long): Int = {
    val latest = latestVersion(table)
    require(latest >= 1, s"$table has no committed version")
    val ok = (1 to latest).filter { v =>
      val p = manifestPath(table, v)
      Files.exists(p) && Files.getLastModifiedTime(p).toMillis <= asOfMillis
    }
    require(ok.nonEmpty,
      s"no retained version of $table was committed at or before " +
        s"$asOfMillis (oldest retained commit is newer, or the range " +
        "was vacuumed)")
    ok.max
  }

  /** `SELECT ... TIMESTAMP AS OF` — [[read]] at [[versionAsOf]]. */
  def readAsOf(spark: SparkSession, table: String, asOfMillis: Long): DataFrame =
    read(spark, table, Some(versionAsOf(table, asOfMillis)))

  /** VACUUM — the lifecycle step correctness deliberately leaves out of
    * the commit path: drop manifests older than the newest `retainLast`
    * versions, then delete every file under `data/` that NO retained
    * manifest references (expired versions' exclusive files, crashed-
    * stage orphans, lost-race staged files) plus leftover stage
    * directories and manifest temp debris. The deletion rule is
    * allow-list shaped — anything referenced by ANY retained manifest
    * survives, whatever its name — so shared files from append chains
    * are never pulled out from under a retained version. Returns the
    * deleted data-file names. After a vacuum, retained versions read
    * byte-identically and expired versions fail LOUDLY (manifest gone),
    * never partially. Single-maintenance-process by contract.
    */
  def vacuum(table: String, retainLast: Int = 2): Seq[String] = {
    require(retainLast >= 1, "must retain at least the latest version")
    val latest = latestVersion(table)
    require(latest >= 1, s"$table has no committed version")
    val keepFrom = math.max(1, latest - retainLast + 1)
    val manifestDir = Paths.get(table, "_manifests")
    val live: Set[String] =
      (keepFrom to latest).flatMap { v =>
        // Retention INCREASED after a tighter vacuum: versions below the
        // previous keepFrom have no manifest anymore. They are expired,
        // not corrupt — skip them instead of aborting the whole vacuum.
        // Deletion-vector parquets are manifest-referenced files like any
        // other: a retained version's masks must survive its data.
        if (Files.exists(manifestPath(table, v))) {
          val m = readManifest(table, v)
          m.files ++ m.dvs
        } else Seq.empty
      }.toSet
    // 1. expire old manifests FIRST: a reader racing the vacuum fails at
    // manifest resolution (loud), never on a half-deleted file list.
    // Manifest temp debris (crashed commit attempts) goes with them.
    val ml = Files.list(manifestDir)
    try ml.iterator().asScala.toSeq.foreach { m =>
      m.getFileName.toString match {
        case ManifestName(d) if d.toInt < keepFrom => Files.delete(m)
        case n if n.startsWith(".tmp-") => Files.delete(m)
        case _ =>
      }
    } finally ml.close()
    // Stats metadata expires with its manifest: an expired version must
    // fail at resolution, never resolve half-pruned by ghost stats.
    val statsDir = Paths.get(table, "_stats")
    if (Files.isDirectory(statsDir)) {
      val sl = Files.list(statsDir)
      try sl.iterator().asScala.toSeq.foreach { m =>
        val v = m.getFileName.toString.stripPrefix("v").stripSuffix(".tsv").toInt
        if (v < keepFrom) Files.delete(m)
      } finally sl.close()
    }
    // 2. delete unreferenced data files and crashed-stage leftovers.
    val dataDir = Paths.get(table, "data")
    val dl = Files.list(dataDir)
    val removed =
      try dl.iterator().asScala.toSeq
        .filter(p => !live.contains(p.getFileName.toString))
        .map { p => Files.delete(p); p.getFileName.toString }
      finally dl.close()
    val tl = Files.list(Paths.get(table))
    try tl.iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("stage-"))
      .foreach { d =>
        val w = Files.walk(d)
        try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        finally w.close()
      }
    finally tl.close()
    removed.sorted
  }
}
