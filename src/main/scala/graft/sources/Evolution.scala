package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Metadata-only schema evolution over the snapshot-manifest protocol —
  * `ALTER TABLE … ADD COLUMN / RENAME COLUMN / DROP COLUMN` without
  * touching a single data file, the capability that makes the reference's
  * ALTER TABLE statements (`SqlBase.g4:54-59` — Presto 323 delegates them
  * to connector metadata, `presto-hive`'s metastore alter) viable at
  * 100 TB: a table that size cannot be rewritten to add a column.
  *
  * Mechanism (the name-mapping half of Iceberg's field-id contract,
  * carried in the manifest instead of file footers):
  *
  *  - The manifest stores the table's LOGICAL schema (`H name:typeDDL`
  *    lines) and an ordered EVOLUTION LOG (`E seq:kind:a:b` lines). Each
  *    op commits like any mutation — one atomic manifest rename at
  *    sequence maxSeq+1 — so snapshot reads ([[MorDelete.readAt]]) of a
  *    pre-evolution version resolve that version's manifest and with it
  *    that version's SCHEMA: time travel is schema-correct by
  *    construction.
  *  - Data files are immutable and carry their DML sequence in their
  *    name; the strictly-smaller rule that sequences tombstones also
  *    sequences schema: a file PREDATES an op iff its sequence < the
  *    op's. An old file lacks an added column (read as NULL), still
  *    carries a renamed column under the pre-rename name, and still
  *    holds dropped columns (projected away).
  *  - [[evolvedRead]] groups live files by their physical-name EPOCH
  *    (the set of renames postdating them — adds and drops need no
  *    grouping, an explicit read schema projects both), reads each group
  *    under its physical schema, and unions at the logical names. Epoch
  *    count is bounded by rename count, not file count.
  *  - A physical rewrite ([[Layout.zorderRewrite]] / [[Layout
  *    .rewriteFiles]], the OPTIMIZE statements) materializes the
  *    resolved view — every new file carries the logical schema — and
  *    CLEARS the log while keeping the schema: the migration path, after
  *    which raw uniform-schema reads (and the stats FileIndex,
  *    [[MorDelete.compact]], [[Maintenance.analyze]]) re-engage.
  *
  * Name hygiene: a dropped or renamed-away name is RETIRED — re-adding
  * it would resurface the old files' physical values as the new column —
  * so ops refuse retired names until a physical migration clears the
  * log. Live tombstone-sidecar KEY columns cannot be renamed or dropped
  * (the sidecar parquet names them physically); compact first, exactly
  * the existing key-set-change rule. Hive-partitioned layouts evolve
  * their DATA columns exactly like flat ones (the op touches footers
  * only; the reference's primary connector supports the same —
  * `presto-hive/.../HiveMetadata.java` addColumn/renameColumn/dropColumn
  * on partitioned tables); the PARTITION columns themselves are
  * immutable here — their names and values live in directory paths, so
  * changing them is a layout rewrite, not a metadata op.
  */
object Evolution {

  import MorDelete.{SchemaOp, State}

  private val reserved = Set(MorDelete.SeqCol, "__mor_fseq", "__cow_fp")

  private def validateName(name: String): Unit = {
    require(name.nonEmpty && !name.exists(c => c == ':' || c == ',' ||
      c == '\t' || c == '\n' || c == '\r'),
      s"column name must be non-empty and free of ':', ',' and line delimiters: '$name'")
    require(!reserved(name), s"column name '$name' is reserved by the engine")
  }

  private[sources] def logicalSchema(st: State): StructType =
    StructType(st.schema.map { case (n, t) => StructField(n, DataType.fromDDL(t)) })

  /** The table's current logical column names: the declared schema when
    * the table has evolved, the (uniform) physical schema — INCLUDING any
    * partition-directory columns, which live in paths, not file footers —
    * otherwise. */
  private[graft] def tableColumns(spark: SparkSession, path: String, st: State): Seq[String] =
    if (st.schema.nonEmpty) st.schema.map(_._1)
    else if (st.dataFiles.nonEmpty)
      spark.read.option("basePath", path).parquet(st.dataFiles: _*)
        .schema.fieldNames.toSeq
    else spark.read.option("basePath", path).parquet(path).schema.fieldNames.toSeq

  /** Physical names of the logical columns inside a file of sequence
    * `fseq`: every rename COMMITTED AFTER the file walks backward
    * (newest-first), so chained renames resolve transitively. */
  private def physicalNames(st: State, fseq: Long): Seq[String] = {
    val later = st.schemaLog.filter(op => op.kind == "rename" && op.seq > fseq).reverse
    st.schema.map { case (logical, _) =>
      later.foldLeft(logical)((n, op) => if (op.b == n) op.a else n)
    }
  }

  /** Epoch-grouped read of an evolved table's live files at the LOGICAL
    * schema, with the file sequence materialized as `__mor_fseq` (the
    * `_metadata` pseudo-column resolves only on a direct file scan, so
    * each epoch computes it BEFORE the union). Old files read missing
    * (later-added) columns as NULL and ignore dropped ones — both are
    * plain requested-schema projection; only renames split epochs. */
  private[sources] def evolvedRead(spark: SparkSession, path: String,
      st: State): DataFrame = {
    require(st.schema.nonEmpty, "evolvedRead needs a declared logical schema")
    val logical = logicalSchema(st)
    if (st.dataFiles.isEmpty) {
      import org.apache.spark.sql.functions.lit
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), logical)
        .withColumn("__mor_fseq", lit(0L))
    }
    val partSet = MorDelete.partitionColsFromPaths(path, st)
      .map(_.toLowerCase).toSet
    val groups = st.dataFiles.groupBy(f => physicalNames(st, MorDelete.nameSeq(f)))
    val parts = groups.toSeq.sortBy(_._1.mkString(",")).map { case (phys, files) =>
      if (partSet.isEmpty) {
        val physSchema = StructType(
          logical.fields.zip(phys).map { case (f, n) => f.copy(name = n) })
        spark.read.schema(physSchema).parquet(files: _*)
          .withColumn("__mor_fseq", MorDelete.fileSeq)
          .toDF(logical.fieldNames.toSeq :+ "__mor_fseq": _*)
      } else {
        // Hive-partitioned epoch: partition columns live in paths, not
        // footers, and are never renamed (refusePartitionCol) — declare
        // the DATA columns under their per-epoch physical names, hand
        // the partition fields (logical name + declared type) to Spark's
        // partition discovery via basePath, then alias everything back
        // to the logical names BY NAME (the read's output order is
        // data-then-partition regardless of the logical interleaving)
        val physByLogical = st.schema.map(_._1).zip(phys).toMap
        val dataFields = logical.fields.filterNot(f => partSet(f.name.toLowerCase))
        val partFields = logical.fields.filter(f => partSet(f.name.toLowerCase))
        val physData = dataFields.map(f => f.copy(name = physByLogical(f.name)))
        spark.read.option("basePath", path)
          .schema(StructType(physData ++ partFields))
          .parquet(files: _*)
          .withColumn("__mor_fseq", MorDelete.fileSeq)
          .select(logical.fields.toSeq.map(f =>
            if (partSet(f.name.toLowerCase))
              org.apache.spark.sql.functions.col(f.name)
            else org.apache.spark.sql.functions.col(physByLogical(f.name))
              .as(f.name)) :+
            org.apache.spark.sql.functions.col("__mor_fseq"): _*)
      }
    }
    parts.reduce(_ unionByName _)
  }

  /** Names no longer usable for new columns: every dropped name and every
    * rename SOURCE — live files may still carry them physically, and a
    * requested-schema read of a re-added column would resurface those
    * values. A physical migration clears the log and frees them. */
  private def retired(st: State): Set[String] =
    st.schemaLog.collect {
      case SchemaOp(_, "drop", a, _) => a
      case SchemaOp(_, "rename", a, _) => a
    }.map(_.toLowerCase).toSet

  /** The current logical schema, deriving it from the (uniform,
    * pre-evolution) physical files on first use: data columns from the
    * first file's footer, partition-directory columns (when the layout
    * is Hive-partitioned) appended with their Spark-inferred types —
    * they ARE logical columns of the table, their values just live in
    * paths instead of footers. Evolution of a DATA column on a
    * partitioned table is as metadata-only as on a flat one (footers
    * only); the partition columns themselves stay immutable
    * ([[refusePartitionCol]]). */
  private def currentSchema(spark: SparkSession, path: String,
      st: State): Seq[(String, String)] =
    if (st.schema.nonEmpty) st.schema
    else {
      require(st.dataFiles.nonEmpty,
        s"cannot derive a schema to evolve: no live data files at $path")
      val partCols = MorDelete.partitionColsFromPaths(path, st)
      val dataFields = spark.read.parquet(st.dataFiles.head).schema.fields.toSeq
      val partFields =
        if (partCols.isEmpty) Nil
        else {
          val raw = spark.read.option("basePath", path).parquet(st.dataFiles: _*)
          raw.schema.fields.toSeq
            .filter(f => partCols.exists(_.equalsIgnoreCase(f.name)))
        }
      (dataFields ++ partFields).map(f => f.name -> f.dataType.sql)
    }

  /** Partition-directory columns are NOT evolvable: their names and
    * values live in directory paths, so add/rename/drop on one is a
    * LAYOUT operation (every path would need rewriting), not a footer
    * metadata operation — the same reason Iceberg routes partition
    * changes through partition-spec evolution, a separate surface this
    * engine scopes out (README ruling). Data columns on the same table
    * evolve freely. */
  private def refusePartitionCol(path: String, st: State, name: String,
      op: String): Unit = {
    val parts = MorDelete.partitionColsFromPaths(path, st)
    require(!parts.exists(_.equalsIgnoreCase(name)),
      s"cannot $op column '$name': it is a partition-directory column (its " +
        "values live in file paths, not footers) — changing the partition " +
        "layout is a rewrite: materialize into the target layout with " +
        "Layout.rewriteFiles / OPTIMIZE instead")
  }

  private def refuseSidecarKey(spark: SparkSession, path: String, name: String,
      op: String): Unit =
    MorDelete.sidecarKeyCols(spark, path).foreach { keys =>
      require(!keys.exists(_.equalsIgnoreCase(name)),
        s"cannot $op column '$name': it is a live tombstone-sidecar key column " +
          s"(sidecar batches name it physically) — compact() first, the same rule " +
          "as changing the key set")
    }

  /** Add a NULL-filled column — metadata-only: no file is touched, old
    * files read the column as NULL, files appended after this commit
    * carry it physically. Returns the op's commit sequence. */
  def addColumn(spark: SparkSession, path: String, name: String,
      typeDDL: String): Long = MorDelete.withWriterLock(path) {
    MorDelete.ensureManaged(spark, path)
    val st = MorDelete.liveState(spark, path)
    val schema0 = currentSchema(spark, path, st)
    validateName(name)
    val dt = DataType.fromDDL(typeDDL) // parse-validate; store the canonical DDL
    require(!schema0.exists(_._1.equalsIgnoreCase(name)),
      s"column '$name' already exists")
    require(!retired(st)(name.toLowerCase),
      s"column name '$name' was previously dropped or renamed away and live files " +
        "may still carry it physically (its old values would resurface) — pick a " +
        "fresh name, or physically migrate first (OPTIMIZE / Layout.rewriteFiles)")
    val seq = MorDelete.maxSeq(spark, path) + 1
    // partition columns stay LAST (the Hive/Spark output convention and
    // what a physical migration's footers+paths read produces) — a new
    // data column slots in before them, so the declared order and the
    // post-migration physical order never diverge
    val partCols = MorDelete.partitionColsFromPaths(path, st)
    val (dataCols, pCols) = schema0.partition(c =>
      !partCols.exists(_.equalsIgnoreCase(c._1)))
    MorDelete.publishManifest(path, seq, st.copy(
      schema = (dataCols :+ (name -> dt.sql)) ++ pCols,
      schemaLog = st.schemaLog :+ SchemaOp(seq, "add", name, dt.sql)))
    seq
  }

  /** Rename a column — metadata-only: the evolution log maps the old
    * physical name inside pre-rename files back to the new logical name
    * at read time. Returns the op's commit sequence. */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Long = MorDelete.withWriterLock(path) {
    MorDelete.ensureManaged(spark, path)
    val st = MorDelete.liveState(spark, path)
    val schema0 = currentSchema(spark, path, st)
    validateName(to)
    val hit = schema0.find(_._1.equalsIgnoreCase(from))
    require(hit.isDefined, s"no such column to rename: '$from'")
    require(!schema0.exists(_._1.equalsIgnoreCase(to)),
      s"rename target '$to' already exists")
    require(!retired(st)(to.toLowerCase),
      s"rename target '$to' was previously dropped or renamed away and live files " +
        "may still carry it physically — pick a fresh name, or physically migrate " +
        "first (OPTIMIZE / Layout.rewriteFiles)")
    refuseSidecarKey(spark, path, from, "rename")
    refusedByConstraints(spark, st, from, "rename")
    refusePartitionCol(path, st, from, "rename")
    val exact = hit.get._1
    val seq = MorDelete.maxSeq(spark, path) + 1
    MorDelete.publishManifest(path, seq, st.copy(
      schema = schema0.map { case (n, t) => if (n == exact) (to, t) else (n, t) },
      schemaLog = st.schemaLog :+ SchemaOp(seq, "rename", exact, to),
      stats = st.stats.map { case (f, cs) =>
        f -> cs.map(s => if (s.col.equalsIgnoreCase(exact)) s.copy(col = to) else s)
      },
      statCols = st.statCols.map(c => if (c.equalsIgnoreCase(exact)) to else c)))
    seq
  }

  /** Drop a column — metadata-only: old files keep it physically, the
    * logical schema projects it away. Returns the op's commit sequence. */
  def dropColumn(spark: SparkSession, path: String,
      name: String): Long = MorDelete.withWriterLock(path) {
    MorDelete.ensureManaged(spark, path)
    val st = MorDelete.liveState(spark, path)
    val schema0 = currentSchema(spark, path, st)
    val hit = schema0.find(_._1.equalsIgnoreCase(name))
    require(hit.isDefined, s"no such column to drop: '$name'")
    require(schema0.size > 1, "cannot drop a table's last column")
    refuseSidecarKey(spark, path, name, "drop")
    refusedByConstraints(spark, st, name, "drop")
    refusePartitionCol(path, st, name, "drop")
    val exact = hit.get._1
    val seq = MorDelete.maxSeq(spark, path) + 1
    MorDelete.publishManifest(path, seq, st.copy(
      schema = schema0.filterNot(_._1 == exact),
      schemaLog = st.schemaLog :+ SchemaOp(seq, "drop", exact, ""),
      stats = st.stats.map { case (f, cs) =>
        f -> cs.filterNot(_.col.equalsIgnoreCase(exact))
      }.filter(_._2.nonEmpty),
      statCols = st.statCols.filterNot(_.equalsIgnoreCase(exact))))
    seq
  }

  /** Column names an expression text references (unresolved attributes,
    * including the heads of dotted paths — a struct access `a.b` pins
    * column `a`). */
  private def referencedCols(spark: SparkSession, exprText: String): Set[String] =
    org.apache.spark.sql.GraftSqlBridge
      .toExpr(spark, org.apache.spark.sql.functions.expr(exprText)).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase
      }.toSet

  private def refusedByConstraints(spark: SparkSession, st: State, col: String,
      op: String): Unit = {
    val refs = st.constraints
      .filter(c => referencedCols(spark, c._2).contains(col.toLowerCase))
    require(refs.isEmpty,
      s"cannot $op column '$col': CHECK constraint(s) ${refs.map(_._1).mkString(", ")} " +
        "reference it — drop them first")
  }

  /** Add a CHECK constraint (Delta's `ALTER TABLE … ADD CONSTRAINT name
    * CHECK (expr)`; the reference has no constraint surface): the
    * EXISTING data must already satisfy it — a constraint never lies
    * about rows in the table — and every later manifest-managed write
    * ([[MorUpsert.merge]] and everything built on it: upsert, the
    * streaming sink, applyChanges, SQL MERGE/UPDATE) validates its batch
    * BEFORE anything stages, refusing loudly with nothing committed. SQL
    * CHECK semantics: a row violates only when the expression is FALSE —
    * NULL passes. Returns the op's commit sequence. */
  def addConstraint(spark: SparkSession, path: String, name: String,
      exprTextRaw: String): Long = MorDelete.withWriterLock(path) {
    import org.apache.spark.sql.functions.{expr, not}
    MorDelete.ensureManaged(spark, path)
    val st = MorDelete.liveState(spark, path)
    // the manifest is line-oriented: normalize interior whitespace (a
    // multi-line CHECK body is legal SQL) BEFORE the validation scan, so
    // the expression that commits is the expression that was checked.
    // Quote-aware: a string literal's interior spacing is SEMANTICS
    // ('a  b' != 'a b'), so only whitespace outside quoted spans
    // collapses; a literal containing a line delimiter cannot survive
    // the line-oriented manifest and refuses instead of being rewritten
    val exprText = normalizeConstraintText(exprTextRaw,
      spark.conf.get("spark.sql.parser.escapedStringLiterals", "false").toBoolean)
    require(name.nonEmpty && !name.exists(c => c == ':' || c == '\n' ||
      c == '\r' || c.isWhitespace),
      s"constraint name must be non-empty and free of ':' and whitespace: '$name'")
    require(!st.constraints.exists(_._1.equalsIgnoreCase(name)),
      s"constraint '$name' already exists")
    val c = expr(exprText) // parse-validate before any scan
    val violations = MorDelete.read(spark, path).filter(not(c)).count()
    require(violations == 0L,
      s"cannot add CHECK constraint '$name' ($exprText): $violations existing " +
        "row(s) violate it — a constraint never lies about data already in the table")
    val seq = MorDelete.maxSeq(spark, path) + 1
    MorDelete.publishManifest(path, seq,
      st.copy(constraints = st.constraints :+ (name -> exprText)))
    seq
  }

  /** Whitespace normalization for a CHECK body that leaves quoted spans
    * byte-identical: runs of whitespace OUTSIDE single-/double-quoted
    * string literals collapse to one space. The scanner honors exactly
    * the escape conventions the expression's eventual parser honors —
    * doubled quotes ('') always, and backslash escapes (\' \\ …) ONLY
    * when `spark.sql.parser.escapedStringLiterals` is off (when that
    * conf is ON, Spark treats backslash as an ordinary character and a
    * \' genuinely terminates the literal — tracking it as an escape
    * would mis-scan the span and collapse whitespace inside a real
    * literal). A quoted span holding a line delimiter refuses loudly —
    * the manifest is line-oriented and could not store it faithfully. */
  private[graft] def normalizeConstraintText(raw: String,
      escapedStringLiterals: Boolean = false): String = {
    val sb = new StringBuilder
    var i = 0
    def copyQuoted(open: Char): Unit = {
      val start = i
      sb.append(raw.charAt(i)); i += 1
      var done = false
      while (i < raw.length && !done) {
        val ch = raw.charAt(i)
        if (!escapedStringLiterals && ch == '\\' && i + 1 < raw.length) {
          sb.append(ch).append(raw.charAt(i + 1)); i += 2 // backslash escape
        } else if (ch == open) {
          if (i + 1 < raw.length && raw.charAt(i + 1) == open) {
            sb.append(open).append(open); i += 2 // doubled-quote escape
          } else { sb.append(ch); i += 1; done = true }
        } else { sb.append(ch); i += 1 }
      }
      require(!raw.substring(start, i).exists(c => c == '\n' || c == '\r'),
        "CHECK expression has a line delimiter inside a quoted " +
          "literal/identifier — the line-oriented manifest cannot store it; " +
          "spell it with char(10)/char(13) instead")
    }
    while (i < raw.length) {
      raw.charAt(i) match {
        case '\'' => copyQuoted('\'')
        case '"' => copyQuoted('"')
        case c if c.isWhitespace =>
          while (i < raw.length && raw.charAt(i).isWhitespace) i += 1
          sb.append(' ')
        case c => sb.append(c); i += 1
      }
    }
    sb.toString.trim
  }

  /** Drop a CHECK constraint by name. Returns the op's commit sequence. */
  def dropConstraint(spark: SparkSession, path: String,
      name: String): Long = MorDelete.withWriterLock(path) {
    MorDelete.ensureManaged(spark, path)
    val st = MorDelete.liveState(spark, path)
    require(st.constraints.exists(_._1.equalsIgnoreCase(name)),
      s"no such constraint: '$name'")
    val seq = MorDelete.maxSeq(spark, path) + 1
    MorDelete.publishManifest(path, seq,
      st.copy(constraints = st.constraints
        .filterNot(_._1.equalsIgnoreCase(name))))
    seq
  }

  /** The table's current constraints as (name, expression text) rows. */
  def tableConstraints(spark: SparkSession, path: String): Seq[(String, String)] =
    MorDelete.liveState(spark, path).constraints

  /** The table's current logical schema as (name, Spark type DDL) rows —
    * declared when evolved, physical otherwise. */
  def tableSchema(spark: SparkSession, path: String): Seq[(String, String)] = {
    val st = MorDelete.liveState(spark, path)
    if (st.schema.nonEmpty) st.schema
    else {
      val head = if (st.dataFiles.nonEmpty) st.dataFiles.head else path
      spark.read.parquet(head).schema.fields.toSeq.map(f => f.name -> f.dataType.sql)
    }
  }
}
