package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read row-level DML — the engine's answer to the measured
  * copy-on-write cliff (SCALE_r13 `cowdml`: a hash-scattered 1% delete
  * touches every file of a clustered table and rewrites 100× the deleted
  * bytes, because file-granular CoW cannot rewrite less than a file).
  *
  * Mechanism (the delete-vector side of every lakehouse format's
  * MoR mode — Iceberg equality deletes, Delta deletion vectors — applied
  * to a plain parquet directory):
  *
  *  1. DELETE writes only the matching rows' KEY COLUMNS to a tombstone
  *     sidecar (`<table>._mor_deletes/batch-<seq>-<uuid>/`, ordinary
  *     parquet). No table file is touched: write cost ∝ deleted keys,
  *     amplification ~0 by construction, regardless of how the deleted
  *     rows scatter.
  *  2. Reads go through [[MorDelete.read]]: the table LEFT ANTI JOIN the
  *     tombstone keys. The sidecar is small (deleted keys only) so AQE
  *     broadcasts the anti side; the scan itself is untouched — pushed
  *     filters and pruned schemas survive because the anti-join sits
  *     ABOVE the scan.
  *  3. [[MorDelete.compact]] folds the tombstones into the files via the
  *     CoW machinery (semi-join touched-file discovery, staged rewrite of
  *     touched files only) — amortizing the read-side join over one
  *     rewrite at a chosen time (the compaction scheduling every MoR
  *     format ships). A density threshold restricts the rewrite to files
  *     worth rewriting (see [[compact]]).
  *
  * Sequencing (what lets [[MorUpsert]] exist): each tombstone carries a
  * sequence number, each data file carries one in its NAME
  * (`part-morN-…`; base files and CoW stages parse to 0), and a tombstone
  * deletes only rows from files with a STRICTLY SMALLER sequence — the
  * Iceberg v2 sequence-number rule. An upsert tombstones its keys and
  * appends its replacement rows at the SAME sequence, so the new rows
  * survive their own tombstones while every older copy dies; a later
  * operation gets a higher sequence and supersedes them in turn. Plain
  * deletes take (max sequence) + 1, deleting everything current.
  *
  * Row identity: a plain parquet table has no row ids (same constraint
  * that shapes [[CowDelete]]), so tombstones are EQUALITY deletes on
  * caller-declared key columns — every row matching a tombstoned key
  * combination (at a lower sequence) is deleted, exactly Iceberg's
  * equality-delete contract. Callers with true row-level intent pass a
  * unique key. Delete predicates are evaluated against the MoR-RESOLVED
  * view (tombstones applied), never the raw files: after an upsert
  * changes a key's values, `DELETE WHERE <old value>` must not extract
  * that key from the superseded row and kill the live replacement — the
  * Iceberg/Delta contract that DML sees the current snapshot. The key
  * set is self-describing: the sidecar parquet's non-sequence columns
  * ARE the key columns, so reads and compaction need no separate
  * metadata file, and mixed key sets across batches are rejected loudly
  * at write time.
  *
  * Concurrency contract (the analog of the reference's commit point,
  * `presto-main/.../operator/TableFinishOperator.java`, re-expressed as
  * a SNAPSHOT MANIFEST — the pointer-swap every lakehouse format keeps
  * in its catalog, held here as an atomically-renamed file):
  *
  *  - SINGLE WRITER, enforced: every mutation ([[delete]],
  *    [[MorUpsert.merge]], [[compact]], [[Maintenance.vacuum]]) takes an
  *    exclusive lock file (`<table>._mor_deletes.lock`, atomic create).
  *    A second concurrent writer fails loudly instead of interleaving
  *    commits.
  *  - MANIFEST COMMITS: the first mutation writes a GENESIS manifest
  *    (`<table>._mor_manifests/m-0-<seq>`) capturing the pre-mutation
  *    state, and from then on the table is MANIFEST-MANAGED — every
  *    commit stages its files (tombstone batch, appended parts,
  *    compacted parts), then publishes them with ONE atomic rename of a
  *    new manifest naming the live data files and live tombstone
  *    batches. A reader resolves the newest manifest first, so it sees
  *    all of a commit or none of it — including across [[compact]],
  *    which under the manifest protocol RETAINS the files it replaces
  *    (readers holding the previous manifest keep a complete,
  *    consistent file set) until [[Maintenance.vacuum]] reclaims them.
  *  - SNAPSHOT READS across DML and compaction: [[readAt]] pins a read
  *    to sequence N by resolving the newest manifest whose sequence
  *    ≤ N — stable across later deletes, merges, AND compactions, until
  *    vacuum expires the manifest (the Iceberg snapshot-expiry
  *    contract). Capture the handle with [[currentSeq]] before the
  *    concurrent DML.
  *  - A crash between staging and the manifest rename leaves GARBAGE
  *    (an unreferenced batch directory or part file), never a
  *    half-visible commit; vacuum reclaims it.
  *
  * RAW directory reads of a managed table are undefined once a
  * compaction has run (replaced files are retained beside their
  * replacements until vacuum) — read through [[read]] / the resolved
  * view, the same rule every manifest-bearing table format imposes.
  * `Maintenance.vacuum(path, 0, 0)` restores physical cleanliness.
  *
  * Scale: below [[manifestFlatMax]] live files a manifest is a flat
  * file naming every one — O(file count) bytes per commit, the same
  * cardinality Spark's own FileIndex already holds driver-side. Above
  * it, the body takes the Iceberg manifest-list split: the commit file
  * becomes a LIST of `S <shard>` lines pointing at CONTENT-ADDRESSED
  * shard files (`shard-<sha1(body)>`, ~[[manifestShardTarget]] entries
  * each, file→shard by stable hash of the table-relative path). A
  * commit hashes each shard group and writes ONLY the groups whose
  * content changed — an unchanged group resolves to an existing shard
  * file by name, no read or write — so commit I/O is O(changed shards)
  * + one O(#shards) list, not O(live files): at ~800k files (100 TB at
  * 128 MB/file) a 1-file DML rewrites one ~4k-line shard and a ~200-line
  * list instead of a 48 MB flat body. Content addressing also makes the
  * shard write idempotent (a crash-rerun re-stages identical bytes) and
  * crash-safe (an unreferenced shard is garbage for vacuum, same as an
  * orphan batch). The commit point is unchanged — the ONE atomic rename
  * of the list file; shard files are invisible until a list names them.
  * Shard count is a power of two derived from the live file count, so
  * it is stable within 2× growth bands; crossing a band (or the
  * flat/sharded threshold) rewrites all groups once and reuse resumes.
  * Sharding is by PATH HASH, not by partition value: reads here always
  * materialize the full live file list, and PARTITION PRUNING happens on
  * that list — driver-side in [[pruneByStats]] (each file's `col=value`
  * path segments are exact min=max bounds, the Iceberg
  * partition-values-in-manifest split derived from paths) and inside
  * Spark's planning via [[MorStatsFileIndex]] (which declares the
  * partition schema and evaluates the planner's partitionFilters per
  * directory group). Partition-keyed SHARDS would additionally prune the
  * listing itself — a win only past the point where the file LIST is the
  * bottleneck (~10⁷ files); the hash split maximizes what matters below
  * that, commit reuse under arbitrary (clustered or scattered) file
  * churn.
  */
object MorDelete {

  private[sources] val SeqCol = "__mor_seq"

  /** @param keysWritten tombstone rows appended (distinct matching keys)
    * @param sidecarFiles live sidecar parquet part files after the append
    * @param rowsMatched  rows of the resolved view the predicate matched
    *                     (measured by an Observation on the same pass that
    *                     extracted the keys — never a second scan)
    */
  final case class MorStats(keysWritten: Long, sidecarFiles: Long, rowsMatched: Long = -1L)

  def sidecarDir(path: String): String = {
    val p = Paths.get(path).toAbsolutePath
    p.resolveSibling(p.getFileName.toString + "._mor_deletes").toString
  }

  def manifestDir(path: String): String = {
    val p = Paths.get(path).toAbsolutePath
    p.resolveSibling(p.getFileName.toString + "._mor_manifests").toString
  }

  /** Committed tombstone batches ON DISK, (sequence, directory),
    * sequence-ordered. Only `batch-<seq>-…` directories count: a stage
    * directory (dot-named, not yet renamed) is invisible by construction,
    * so a crashed writer leaves garbage, never a half-visible batch.
    * On a manifest-managed table this is the raw disk listing (live AND
    * retained-dead batches) — live-state callers use [[liveState]].
    */
  private[sources] def batches(path: String): Seq[(Long, java.io.File)] = {
    val dir = new java.io.File(sidecarDir(path))
    if (!dir.isDirectory) Nil
    else Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
      .map { f =>
        val seq = f.getName.stripPrefix("batch-").takeWhile(_.isDigit)
        require(seq.nonEmpty, s"malformed tombstone batch directory: ${f.getName}")
        seq.toLong -> f
      }
      .sortBy(_._1)
  }

  /** Driver-side parquet SCHEMA memo. Construction-time schema inference
    * (a footer read per distinct file set) measured 70–90 ms per MoR read
    * construction at bench scale (OPTIMIZATION_r18.md step 2) and repeats
    * identically for every read of an unchanged snapshot. Keyed on the
    * exact path set plus each entry's (length, mtime), so any rewrite,
    * append, compaction or vacuum changes the key and re-infers. This
    * caches METADATA (a StructType), never data or results — the same
    * class of cache as Spark's own file-index/partition caches; every
    * query still computes from the parquet inputs. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()
  private def memoSchema(paths: Seq[String], basePath: Option[String])(
      infer: => org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val key = basePath.getOrElse("") + "\n" + paths.sorted.map { p =>
      val f = new java.io.File(p)
      s"$p|${f.length}|${f.lastModified}"
    }.mkString("\n")
    if (schemaMemo.size > 512) schemaMemo.clear()
    schemaMemo.computeIfAbsent(key, _ => infer)
  }

  private def sidecarOf(spark: SparkSession, bs: Seq[(Long, java.io.File)]): DataFrame = {
    val paths = bs.map(_._2.toString)
    // explicit (memoized) schema skips the per-construction footer read
    spark.read.schema(memoSchema(paths, None)(
      spark.read.parquet(paths: _*).schema)).parquet(paths: _*)
  }

  /** The LIVE sidecar key set (None when no live batch exists). */
  private[graft] def sidecarKeyCols(spark: SparkSession, path: String): Option[Seq[String]] = {
    val bs = liveState(spark, path).batches
    if (bs.isEmpty) None
    else Some(sidecarOf(spark, bs).columns.toSeq.filterNot(_ == SeqCol))
  }

  // ---------------------------------------------------------------------
  // Snapshot manifests
  // ---------------------------------------------------------------------

  /** One manifest file, identity parsed off its name `m-<ordinal>-<seq>`:
    * `ordinal` is the global commit counter (every commit, including
    * compactions, takes the next one), `seq` the DML sequence of the
    * state it publishes (compactions re-publish the current sequence).
    */
  private[graft] final case class ManifestRef(ordinal: Long, seq: Long, file: java.io.File)

  /** Per-file column statistics published in a manifest: min/max of one
    * column's non-null values as doubles, tagged with the value DOMAIN
    * the doubles live in — "n" plain numeric, "d" days since epoch
    * (DATE), "t" µs since epoch (TIMESTAMP instant), "u" zone-free
    * wallclock µs (TIMESTAMP_NTZ). The tag is what keeps the unresolved
    * Column-DSL path sound: there the evaluator cannot see the COLUMN's
    * type, so a literal in a different domain (a timestamp compared
    * against a date column) must fall back to no-prune instead of
    * comparing µs against day bounds. `nulls`/`rows` (−1 = unpublished,
    * the pre-r15 encoding) are the column's null count and the file's
    * row count — what lets IS NULL / IS NOT NULL predicates prune, and
    * what marks an ALL-NULL column (NaN bounds, nulls == rows) so even
    * range comparisons prune it (no non-null value can satisfy one).
    * Written by [[Maintenance.analyze]], consumed by
    * [[MorDelete.readWhere]] and [[MorStatsFileIndex]]. */
  /** `smin`/`smax` carry STRING bounds (domain "s"): exact per-file
    * min/max of a string column, published only when both fit the
    * 64-char cap (an Iceberg-style truncated upper bound would need the
    * increment-last-byte trick to stay a bound; refusing long values is
    * simpler and sound). Comparison semantics are UTF8String's binary
    * order — the same order Spark's own min/max aggregates used to
    * compute them, so the evaluator can never disagree with the data. */
  private[graft] final case class FileColStat(col: String, min: Double, max: Double,
      domain: String = "n", nulls: Long = -1L, rows: Long = -1L,
      smin: Option[String] = None, smax: Option[String] = None)

  /** One schema-evolution operation recorded in the manifest log (see
    * [[Evolution]]): `kind` ∈ add/drop/rename, committed at DML sequence
    * `seq` — the strictly-smaller file-sequence rule decides which files
    * PREDATE the op (an old file lacks an added column, carries a renamed
    * column under its pre-rename name). For add, `a` = column name and
    * `b` = its Spark type DDL; for drop, `a` = name; for rename,
    * `a` = from and `b` = to. */
  private[graft] final case class SchemaOp(seq: Long, kind: String, a: String, b: String)

  /** The live file/batch set one manifest publishes. Data files are held
    * ABSOLUTE here; the on-disk encoding is table-relative. `stats` maps
    * an absolute data-file path to its published column stats (empty for
    * never-analyzed tables and for files written after the last
    * [[Maintenance.analyze]] — a stats-less file is never pruned).
    * `statCols` is the analyzed COLUMN SET, carried by every commit even
    * when a full rewrite leaves zero per-file stats — it is what lets
    * [[Maintenance.maintain]] keep healing coverage (and [[Maintenance
    * .analyze]] keep its column set) after the stats themselves dropped;
    * empty means the table never opted into stats.
    *
    * `txns` are idempotent-commit markers (Delta's txn action): the
    * newest applied version per application id, checked by
    * [[MorUpsert.merge]]'s `txn` parameter so a replayed streaming
    * micro-batch commits nothing twice. Carried forward by EVERY commit
    * — including [[MorDelete.restore]], which rolls back data, never
    * idempotence history.
    *
    * `schema` is the table's current LOGICAL schema as (name, Spark type
    * DDL) pairs — empty until the first [[Evolution]] op (then the
    * physical schema of the files is the logical one). `schemaLog` is
    * the ordered evolution history; non-empty means live files may
    * physically differ from the logical schema and reads go through
    * [[Evolution.evolvedRead]]'s epoch grouping. A full physical rewrite
    * ([[graft.sources.Layout.zorderRewrite]] / `rewriteFiles`) clears
    * the log (files are re-materialized at the logical schema) while
    * keeping `schema`. */
  private[graft] final case class State(dataFiles: Seq[String],
      batches: Seq[(Long, java.io.File)],
      stats: Map[String, Seq[FileColStat]] = Map.empty,
      statCols: Seq[String] = Nil,
      txns: Map[String, Long] = Map.empty,
      schema: Seq[(String, String)] = Nil,
      schemaLog: Seq[SchemaOp] = Nil,
      constraints: Seq[(String, String)] = Nil)

  private val manifestName = "m-(\\d+)-(\\d+)".r

  /** Live-file count above which a manifest body shards into a list of
    * content-addressed shard files (see the concurrency-contract
    * scaladoc). Tunable for tests; the default keeps every table the
    * local gates build on the flat form. */
  @volatile private[graft] var manifestFlatMax: Int = 4096
  /** Target data-file entries per shard once sharded. */
  @volatile private[graft] var manifestShardTarget: Int = 4096

  /** All manifests on disk, ordinal-ascending. */
  private[graft] def manifests(path: String): Seq[ManifestRef] = {
    val dir = new java.io.File(manifestDir(path))
    if (!dir.isDirectory) Nil
    else Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => f.getName match {
        case manifestName(o, s) => Some(ManifestRef(o.toLong, s.toLong, f))
        case _ => None
      })
      .sortBy(_.ordinal)
  }

  /** Whether the table has entered the manifest protocol (any mutation
    * does this; see the concurrency-contract scaladoc). */
  def isManaged(path: String): Boolean = manifests(path).nonEmpty

  private def tableAbs(path: String) = Paths.get(path).toAbsolutePath

  private[graft] def readManifest(path: String, m: ManifestRef): State =
    readManifestAndShards(path, m)._1

  /** One manifest body read, returning BOTH the state and the shard
    * names its list references (empty for flat bodies) — vacuum needs
    * the pair and must not pay a second multi-megabyte body read for
    * the shard names alone. */
  private[sources] def readManifestAndShards(path: String, m: ManifestRef): (State, Seq[String]) = {
    val base = tableAbs(path)
    val side = new java.io.File(sidecarDir(path))
    val mdir = m.file.getParentFile
    def slurp(f: java.io.File): Seq[String] =
      scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(f.toPath)).asScala.toSeq
    val lines = slurp(m.file)
    // flat bodies carry `D <rel>` directly; sharded bodies carry
    // `S <shard-file>` lines whose bodies carry the `D` entries. Shards
    // read in parallel: ~200 independent small files at the 800k-file
    // shape, and the sequential resolve measured 0.41 s where the flat
    // body took 0.15 (SCALE_r15 `manifest`) — the fan-out wins it back.
    val inline = lines.collect { case l if l.startsWith("D ") => l.drop(2) }
    val shardNames = lines.collect { case l if l.startsWith("S ") => l.drop(2) }
    val sharded =
      if (shardNames.isEmpty) Nil
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(
          Future.traverse(shardNames)(n => Future(
            slurp(new java.io.File(mdir, n))
              .collect { case d if d.startsWith("D ") => d.drop(2) })),
          Duration.Inf).flatten
      }
    // a D payload is `<rel>` alone, or `<rel>\t<col>:<domain>:<min>:<max>
    // [:<nulls>:<rows>]\t…` when the manifest carries analyzed file stats
    // (tab-split is safe: rel paths and analyzed column names are
    // tab-free by construction); 3-part entries are the pre-domain
    // encoding (plain numeric), 4-part the pre-null-count one
    val parsed = (inline ++ sharded).map { payload =>
      val toks = payload.split('\t')
      val abs = base.resolve(toks.head).toString
      val stats = toks.toSeq.drop(1).map { t =>
        // limit -1 keeps trailing empties: an empty-string bound encodes
        // to an empty base64 token and must survive the split
        val p = t.split(":", -1)
        require(p.length == 3 || p.length == 4 || p.length == 6 || p.length == 8,
          s"malformed stats entry in ${m.file}: $t")
        if (p.length == 3) FileColStat(p(0), p(1).toDouble, p(2).toDouble)
        else if (p.length == 4) FileColStat(p(0), p(2).toDouble, p(3).toDouble, p(1))
        else if (p.length == 6) FileColStat(p(0), p(2).toDouble, p(3).toDouble, p(1),
          p(4).toLong, p(5).toLong)
        else {
          val d = java.util.Base64.getDecoder
          def un(x: String) = new String(d.decode(x),
            java.nio.charset.StandardCharsets.UTF_8)
          FileColStat(p(0), p(2).toDouble, p(3).toDouble, p(1),
            p(4).toLong, p(5).toLong, Some(un(p(6))), Some(un(p(7))))
        }
      }
      abs -> stats
    }
    val data = parsed.map(_._1)
    val stats = parsed.collect { case (f, s) if s.nonEmpty => f -> s }.toMap
    val bs = lines.collect { case l if l.startsWith("B ") =>
      val name = l.drop(2)
      val seq = name.stripPrefix("batch-").takeWhile(_.isDigit)
      require(seq.nonEmpty, s"malformed batch entry in ${m.file}: $name")
      seq.toLong -> new java.io.File(side, name)
    }
    // `C col1,col2` — the analyzed column set (absent on pre-stats
    // manifests and never-analyzed tables)
    val statCols = lines.collectFirst { case l if l.startsWith("C ") =>
      l.drop(2).split(',').toSeq.filter(_.nonEmpty) }.getOrElse(Nil)
    // `T <app>:<version>` — idempotent-commit markers (split on the FIRST
    // ':' only: app ids are ':'-free by construction, versions are digits)
    val txns = lines.collect { case l if l.startsWith("T ") =>
      val t = l.drop(2)
      val i = t.indexOf(':')
      require(i > 0, s"malformed txn entry in ${m.file}: $t")
      t.substring(0, i) -> t.substring(i + 1).toLong
    }.toMap
    // `H <name>:<typeDDL>` — the logical schema (first-':' split: names
    // are ':'-free by construction, type DDL may contain ':' in structs)
    val schema = lines.collect { case l if l.startsWith("H ") =>
      val t = l.drop(2)
      val i = t.indexOf(':')
      require(i > 0, s"malformed schema entry in ${m.file}: $t")
      t.substring(0, i) -> t.substring(i + 1)
    }
    // `E <seq>:<kind>:<a>:<b>` — the evolution log (limit-4 split: only
    // the trailing field — add's type DDL — may contain ':')
    val schemaLog = lines.collect { case l if l.startsWith("E ") =>
      val p = l.drop(2).split(":", 4)
      require(p.length == 4, s"malformed evolution entry in ${m.file}: ${l.drop(2)}")
      SchemaOp(p(0).toLong, p(1), p(2), p(3))
    }
    // `K <name>:<expr>` — CHECK constraints (first-':' split: names are
    // ':'-free by construction, the expression text is free-form)
    val constraints = lines.collect { case l if l.startsWith("K ") =>
      val t = l.drop(2)
      val i = t.indexOf(':')
      require(i > 0, s"malformed constraint entry in ${m.file}: $t")
      t.substring(0, i) -> t.substring(i + 1)
    }
    (State(data, bs.sortBy(_._1), stats, statCols, txns, schema, schemaLog,
      constraints), shardNames)
  }

  /** Publish a new manifest: staged write, then ONE atomic rename — the
    * commit point of every mutation on a managed table. Above
    * [[manifestFlatMax]] data files the body shards (see the
    * concurrency-contract scaladoc): each hash group of table-relative
    * paths becomes a content-addressed `shard-<sha1>` file written ONLY
    * if absent, and the committed body lists the shard names — so an
    * unchanged group costs a driver-side hash, never I/O. */
  private def writeManifest(path: String, ordinal: Long, seq: Long, st: State): Unit = {
    val base = tableAbs(path)
    val dir = Paths.get(manifestDir(path))
    Files.createDirectories(dir)
    // D payload per file: the table-relative path, plus any published
    // stats as tab-separated `col:min:max` entries. Doubles round-trip
    // through Double.toString exactly. Shard grouping below hashes the
    // REL PATH alone, so a stats refresh never moves files between
    // shards — it rewrites only the shards whose bodies changed.
    val rels = st.dataFiles.map { f =>
      val rel = base.relativize(Paths.get(f)).toString
      require(!rel.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"data-file path contains a manifest delimiter (tab/newline): $rel")
      val stat = st.stats.getOrElse(f, Nil)
        .map { s =>
          // 8-part = the string-bounds encoding (base64 sidesteps every
          // delimiter concern); 6-part = numeric with counts; 4-part =
          // the pre-null-count legacy form
          if (s.smin.isDefined && s.smax.isDefined) {
            val e = java.util.Base64.getEncoder
            def b64(x: String) = e.encodeToString(
              x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            s"\t${s.col}:${s.domain}:${s.min}:${s.max}:${s.nulls}:${s.rows}:" +
              s"${b64(s.smin.get)}:${b64(s.smax.get)}"
          } else if (s.nulls >= 0 && s.rows >= 0)
            s"\t${s.col}:${s.domain}:${s.min}:${s.max}:${s.nulls}:${s.rows}"
          else s"\t${s.col}:${s.domain}:${s.min}:${s.max}"
        }.mkString
      (rel, rel + stat)
    }
    def staged(body: String, target: String): Unit = {
      val tmp = dir.resolve(s".tmp-${UUID.randomUUID().toString.take(8)}")
      Files.writeString(tmp, body)
      Files.move(tmp, dir.resolve(target), StandardCopyOption.ATOMIC_MOVE)
      ()
    }
    val dataLines: Seq[String] =
      if (rels.size <= manifestFlatMax) rels.map("D " + _._2)
      else {
        val n = Integer.highestOneBit(
          math.max(1, (rels.size + manifestShardTarget - 1) / manifestShardTarget) * 2 - 1)
        val groups = rels.groupBy { case (r, _) =>
          math.floorMod(scala.util.hashing.MurmurHash3.stringHash(r), n) }
        groups.toSeq.sortBy(_._1).map { case (_, files) =>
          val body = files.sortBy(_._1).map("D " + _._2).mkString("\n")
          val digest = java.security.MessageDigest.getInstance("SHA-1")
            .digest(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map("%02x".format(_)).mkString
          val name = s"shard-$digest"
          if (!Files.exists(dir.resolve(name))) staged(body, name)
          "S " + name
        }
      }
    val colLine =
      if (st.statCols.isEmpty) Nil
      else Seq("C " + st.statCols.mkString(","))
    val txnLines = st.txns.toSeq.sortBy(_._1).map { case (app, v) =>
      require(!app.exists(c => c == ':' || c == '\t' || c == '\n' || c == '\r'),
        s"txn application id must not contain ':' or whitespace delimiters: $app")
      s"T $app:$v"
    }
    val schemaLines = st.schema.map { case (n, t) =>
      require(!n.exists(c => c == ':' || c == '\t' || c == '\n' || c == '\r'),
        s"column name must not contain ':' or line delimiters: $n")
      require(!t.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"type DDL must not contain line delimiters: $t")
      s"H $n:$t"
    }
    val logLines = st.schemaLog.map { op =>
      require(Seq(op.a, op.b).forall(s => !s.exists(c => c == '\n' || c == '\r')) &&
        !op.a.contains(':') && (op.kind == "add" || !op.b.contains(':')),
        s"malformed evolution op: $op")
      s"E ${op.seq}:${op.kind}:${op.a}:${op.b}"
    }
    val constraintLines = st.constraints.map { case (n, e) =>
      require(!n.exists(c => c == ':' || c == '\n' || c == '\r') &&
        !e.exists(c => c == '\n' || c == '\r'),
        s"malformed constraint: ($n, $e)")
      s"K $n:$e"
    }
    staged((dataLines ++ st.batches.map { case (_, f) => "B " + f.getName } ++
      colLine ++ txnLines ++ schemaLines ++ logLines ++ constraintLines)
      .mkString("\n"), s"m-$ordinal-$seq")
  }

  private def nextOrdinal(path: String): Long =
    manifests(path).lastOption.map(_.ordinal + 1).getOrElse(0L)

  /** All parquet files under the table directory (the pre-manifest notion
    * of the live set). */
  private def walkData(path: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
  }

  /** The current live state: the newest manifest when managed, the raw
    * directory + sidecar listing otherwise. */
  private[graft] def liveState(spark: SparkSession, path: String): State =
    manifests(path).lastOption match {
      case Some(m) => readManifest(path, m)
      case None => State(walkData(path), batches(path))
    }

  /** Enter the manifest protocol: write the genesis manifest (ordinal 0)
    * capturing the CURRENT state, BEFORE the mutation stages anything —
    * so a reader racing the first mutation resolves either the genesis
    * (pre-state) or the mutation's manifest (post-state), never a half
    * state. No-op when already managed. */
  private[sources] def ensureManaged(spark: SparkSession, path: String): Unit =
    if (!isManaged(path))
      writeManifest(path, ordinal = 0L, seq = maxSeq(spark, path),
        State(walkData(path), batches(path)))

  /** Commit one mutation's state as the next manifest (ordinal assigned
    * here, under the caller's writer lock). */
  private[graft] def publishManifest(path: String, seq: Long, st: State): Unit =
    writeManifest(path, nextOrdinal(path), seq, st)

  /** Sequence of the file a row came from: parsed off `_metadata.file_path`
    * (0 for base/CoW-written files, N for `part-morN-…` appends).
    * Deliberately NOT a regex: this runs once per ROW of the base table
    * on every MoR read, and a backtracking regex over the full path
    * measured ~15× the raw-scan cost at 6M rows. An `instr` guard (fast
    * substring scan, 0 for every base/CoW file) gates a two-step
    * `substring_index` parse that only the few `part-morN-` files pay.
    * (`instr`, not `Column.contains`: the engine's Presto-compat layer
    * re-registers the `contains` SQL function with array semantics, and
    * Column.contains resolves through the function registry.) */
  private[sources] def fileSeq: Column = {
    val fp = col("_metadata.file_path")
    val parsed = substring_index(substring_index(fp, "/part-mor", -1), "-", 1)
    when(instr(fp, "/part-mor") > 0,
      coalesce(parsed.cast("long"), lit(0L))).otherwise(lit(0L))
  }

  /** Driver-side twin of [[fileSeq]] over one file path or bare name:
    * same token parse of the file NAME, same malformed-token → 0 (the
    * column coalesces its failed cast to 0 for the same reason) — ONE
    * shared rule, so a planning-time file routing ([[readChanges]]),
    * [[maxSeq]], schema evolution's per-file epoch lookup and the per-row
    * column can never classify the same file differently (the r17 regex
    * `part-mor(\d+)-` matched mid-name where the column's `/part-mor`
    * anchor would not). */
  private[graft] def nameSeq(file: String): Long = {
    val name = Paths.get(file).getFileName.toString
    if (!name.startsWith("part-mor")) 0L
    else scala.util.Try(name.drop("part-mor".length).takeWhile(_ != '-').toLong).getOrElse(0L)
  }

  /** Max sequence present anywhere (data file names + sidecar batch
    * names + manifest names), 0 if none — a driver-side file listing,
    * bounded by file count like CowCore. Never reads tombstone DATA: the
    * sequence rides in the batch directory name, so an empty or
    * half-garbage sidecar file can't poison it. Manifest names
    * participate so the live sequence survives a vacuum that reclaimed
    * the (dead) files that carried it. */
  private[sources] def maxSeq(spark: SparkSession, path: String): Long = {
    val dataMax = walkData(path)
      .map(nameSeq).foldLeft(0L)(math.max)
    val sideMax = batches(path).map(_._1).foldLeft(0L)(math.max)
    val maniMax = manifests(path).map(_.seq).foldLeft(0L)(math.max)
    math.max(math.max(dataMax, sideMax), maniMax)
  }

  /** The sequence of the latest committed DML — the handle a reader pins
    * with [[readAt]] for a snapshot-stable view across later commits. */
  def currentSeq(spark: SparkSession, path: String): Long = maxSeq(spark, path)

  /** Exclusive single-writer lock: atomic lock-file create, released on
    * exit. Concurrent mutations fail loudly — MoR DML interleaving two
    * writers' sequence numbers would corrupt the supersession order.
    */
  private[sources] def withWriterLock[T](path: String)(body: => T): T = {
    val lock = Paths.get(sidecarDir(path) + ".lock")
    try Files.createFile(lock)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"merge-on-read DML on $path is SINGLE-WRITER and another writer holds " +
            s"$lock — wait for it, or remove the lock file if that writer crashed")
    }
    try body finally { Files.deleteIfExists(lock); () }
  }

  /** Stage-and-rename one tombstone batch directory: distinct keys +
    * sequence staged under a dot-directory, then ONE atomic directory
    * rename to `batch-<seq>-<uuid>`. On a managed table the batch stays
    * INVISIBLE until the caller publishes a manifest naming it — the
    * rename only makes it durable. An empty key set commits nothing (no
    * empty batch to trip later sequence scans, no key-set lock-in from a
    * no-op DELETE). Returns (keys written, committed directory name).
    */
  private[graft] def appendTombstones(spark: SparkSession, path: String,
      keys: DataFrame, keyCols: Seq[String], seq: Long,
      existingKeyCols: Option[Seq[String]]): (Long, Option[String]) = {
    require(keyCols.nonEmpty, "merge-on-read DML needs at least one key column")
    require(!keyCols.contains(SeqCol), s"$SeqCol is reserved")
    existingKeyCols.foreach { existing =>
      require(existing == keyCols,
        s"tombstone sidecar already keyed by (${existing.mkString(", ")}); " +
          s"got (${keyCols.mkString(", ")}) — compact() before changing the key set")
    }
    // pin the rows before writing: a lazy source whose lineage reads this
    // table (the usual case — delete predicates run on the resolved view)
    // must not re-evaluate after the sidecar gains the new batch
    val rows = keys.select(keyCols.map(col): _*).distinct()
      .withColumn(SeqCol, lit(seq))
      .localCheckpoint(true)
    try {
      val n = rows.count()
      if (n == 0L) return (0L, None)
      val side = Paths.get(sidecarDir(path))
      Files.createDirectories(side)
      val stage = side.resolve(s".stage-${UUID.randomUUID().toString.take(8)}")
      rows.write.mode("overwrite").parquet(stage.toString)
      val name = s"batch-$seq-${UUID.randomUUID().toString.take(8)}"
      Files.move(stage, side.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      (n, Some(name))
    } finally { rows.unpersist(); () }
  }

  /** Tombstone all rows matching `predicate` in the CURRENT resolved view
    * of the parquet table at `path`, identified by `keyCols`. Touches no
    * table file; the manifest rename is the atomic commit point.
    */
  def delete(spark: SparkSession, path: String, predicate: Column,
      keyCols: Seq[String]): MorStats = withWriterLock(path) {
    ensureManaged(spark, path)
    val st = liveState(spark, path)
    // the predicate sees the MoR-RESOLVED view: rows already superseded by
    // earlier tombstones/upserts must not donate their keys (a predicate
    // matching only a key's DEAD values would otherwise delete its live
    // replacement row). The matched-row count rides an Observation on the
    // SAME pass that extracts the keys — never a second scan.
    val obs = org.apache.spark.sql.Observation(s"mor_del_${UUID.randomUUID().toString.take(8)}")
    val keys = resolvedOf(spark, path, st, Long.MaxValue).filter(predicate)
      .observe(obs, count(lit(1)).as("matched"))
    val seq = maxSeq(spark, path) + 1
    val existing =
      if (st.batches.isEmpty) None
      else Some(sidecarOf(spark, st.batches).columns.toSeq.filterNot(_ == SeqCol))
    val (n, batchName) = appendTombstones(spark, path, keys, keyCols, seq, existing)
    // an all-empty observed input yields an EMPTY metrics map (no task
    // produced a metrics row) — that IS zero matches, not a failure
    val matched =
      scala.util.Try(obs.get.get("matched").map(_.asInstanceOf[Long]).getOrElse(0L))
        .getOrElse(-1L)
    if (n == 0L) return MorStats(0L, liveSidecarFiles(st), matched)
    val newBatch = seq -> new java.io.File(sidecarDir(path), batchName.get)
    val st2 = st.copy(batches = st.batches :+ newBatch)
    writeManifest(path, nextOrdinal(path), seq, st2)
    MorStats(n, liveSidecarFiles(st2), matched)
  }

  /** Tombstone an EXPLICIT key set (no predicate) — the Iceberg
    * equality-delete-writer shape, and what a change-feed consumer needs
    * to replay upstream deletes onto a replica ([[MorUpsert
    * .applyChanges]]): every live row matching a key in `keys` dies at
    * the next sequence. Same commit discipline as [[delete]]; an empty
    * key set commits nothing. Returns the distinct keys tombstoned. */
  def deleteKeys(spark: SparkSession, path: String, keys: DataFrame,
      keyCols: Seq[String]): Long = withWriterLock(path) {
    ensureManaged(spark, path)
    val st = liveState(spark, path)
    val seq = maxSeq(spark, path) + 1
    val existing =
      if (st.batches.isEmpty) None
      else Some(sidecarOf(spark, st.batches).columns.toSeq.filterNot(_ == SeqCol))
    val (n, batchName) = appendTombstones(spark, path, keys, keyCols, seq, existing)
    if (n == 0L) return 0L
    val newBatch = seq -> new java.io.File(sidecarDir(path), batchName.get)
    writeManifest(path, nextOrdinal(path), seq,
      st.copy(batches = st.batches :+ newBatch))
    n
  }

  private def liveSidecarFiles(st: State): Long =
    st.batches.flatMap(b => Option(b._2.listFiles()).getOrElse(Array.empty).toSeq)
      .count(_.getName.endsWith(".parquet")).toLong

  /** The table with tombstones applied: LEFT ANTI JOIN against the
    * sidecar keys, restricted to rows from files with a sequence below
    * the tombstone's (so upsert replacements survive their own
    * tombstones). The sidecar is small, so the anti side broadcasts; the
    * scan itself keeps its pushdown/pruning — the join sits above it.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    readAt(spark, path, Long.MaxValue)

  /** The live view resolved with the manifest's published stats STRIPPED
    * — every data file is scanned, nothing prunes. This is the fuzz
    * suite's ORACLE for the stats evaluator: `readWhere(pred)` and
    * `read().filter(pred)` both ride [[statsPredOf]], so comparing them
    * to each other can never catch an evaluator bug (both sides fail
    * identically — exactly how the r15 narrowing-cast unsoundness
    * survived the fuzz). This path shares the resolve/tombstone logic
    * but NOT the evaluator, so a pruning bug shows up as a row diff. */
  private[graft] def readIgnoringStats(spark: SparkSession, path: String): DataFrame = {
    val ms = manifests(path)
    if (ms.isEmpty) readAt(spark, path, Long.MaxValue)
    else {
      val st = readManifest(path, ms.maxBy(_.ordinal))
      resolvedOf(spark, path, st.copy(stats = Map.empty), Long.MaxValue)
    }
  }

  /** Snapshot read pinned at sequence `seq`: the newest manifest whose
    * sequence ≤ `seq` defines the file and tombstone set, so the view is
    * exactly the table as of that commit — stable across later deletes,
    * merges, AND compactions (compaction retains the files it replaces),
    * until [[Maintenance.vacuum]] expires the manifest. Capture the
    * handle with [[currentSeq]] BEFORE the concurrent DML. On a table
    * that predates the manifest protocol, falls back to name-parsed
    * sequence pinning over the directory listing.
    */
  def readAt(spark: SparkSession, path: String, seq: Long): DataFrame = {
    val ms = manifests(path)
    if (ms.isEmpty) {
      // legacy (pre-manifest) table: pin by file-name sequence
      val raw = spark.read.option("basePath", path).parquet(path)
      val pinned =
        if (seq == Long.MaxValue) raw
        else raw.withColumn("__mor_fseq", fileSeq)
          .filter(col("__mor_fseq") <= seq).drop("__mor_fseq")
      applyTombstones(spark, pinned, batches(path).filter(_._1 <= seq),
        filesMaxSeq(walkData(path)))
    } else {
      val eligible = ms.filter(_.seq <= seq)
      if (eligible.isEmpty)
        throw new IllegalStateException(
          s"no retained snapshot at sequence $seq for $path — the manifest was " +
            "expired by Maintenance.vacuum (the Iceberg snapshot-expiry contract) " +
            "or the sequence predates the table")
      resolvedOf(spark, path, readManifest(path, eligible.maxBy(_.ordinal)), seq)
    }
  }

  /** Snapshot read pinned at a WALL-CLOCK instant: the newest manifest
    * whose file mtime ≤ `millis` — a manifest's mtime IS its commit time
    * (the atomic rename stamps it), so this is the state a reader at
    * that moment resolved. Time travel needs commit history: a table
    * that never entered the manifest protocol refuses loudly, as does an
    * instant predating the retained history (vacuum expiry — the same
    * contract as [[readAt]]). */
  def readAtTime(spark: SparkSession, path: String, millis: Long): DataFrame = {
    val ms = manifests(path)
    require(ms.nonEmpty,
      s"table at $path has no commit history (never manifest-managed) — " +
        "time travel resolves manifests; run any MoR mutation first")
    val eligible = ms.filter(_.file.lastModified() <= millis)
    if (eligible.isEmpty)
      throw new IllegalStateException(
        s"no retained snapshot at or before epoch-millis $millis for $path — the " +
          "instant predates the table's history, or Maintenance.vacuum expired it")
    val m = eligible.maxBy(_.ordinal)
    resolvedOf(spark, path, readManifest(path, m), m.seq)
  }

  /** The table's COMMIT HISTORY as a DataFrame — one row per retained
    * manifest, newest first: `version` (the snapshot sequence
    * [[readAt]] pins), `ordinal` (the global commit counter), the
    * commit instant (a manifest's mtime IS its commit time — the atomic
    * rename stamps it), and the published state's cardinalities. This
    * is how a reader DISCOVERS what `FOR VERSION AS OF` can pin —
    * Delta's DESCRIBE HISTORY analog, derived entirely from the
    * manifest names plus one body read each (bounded by the retained
    * manifest count; vacuum keeps that bounded).
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // operation kind derives from the state DELTA against the previous
    // manifest (Delta's DESCRIBE HISTORY operation column): sequence
    // advances are DML — removals mark a RESTORE, schema changes an
    // ALTER, the batch/file growth pattern the statement family —
    // while same-sequence commits are view-identical maintenance.
    val asc = manifests(path)
    val states = asc.map(readManifest(path, _))
    // stats equality must be NaN-tolerant: an all-null column publishes
    // NaN min/max, and case-class Double equality uses IEEE == (NaN !=
    // NaN), so two structurally identical maps would never compare equal
    // and a stats-unchanged commit would be mislabeled ANALYZE —
    // doubleToLongBits makes NaN self-equal
    def statsKey(m: Map[String, Seq[FileColStat]]) =
      m.view.mapValues(_.map(s => (s.col,
        java.lang.Double.doubleToLongBits(s.min),
        java.lang.Double.doubleToLongBits(s.max),
        s.domain, s.nulls, s.rows, s.smin, s.smax))).toMap
    def classify(i: Int): String = {
      if (i == 0) return "GENESIS"
      val (prev, cur) = (states(i - 1), states(i))
      val (pD, cD) = (prev.dataFiles.toSet, cur.dataFiles.toSet)
      val pB = prev.batches.map(_._2.getName).toSet
      val cB = cur.batches.map(_._2.getName).toSet
      if (asc(i).seq > asc(i - 1).seq) {
        if (!pD.subsetOf(cD) || !pB.subsetOf(cB)) "RESTORE"
        else if (prev.schema != cur.schema || prev.schemaLog != cur.schemaLog ||
          prev.constraints != cur.constraints) "ALTER"
        else if (pB != cB && pD != cD) "MERGE"
        else if (pB != cB) "DELETE"
        else if (pD != cD) "WRITE"
        else "TXN"
      } else {
        if (pD != cD) "OPTIMIZE"
        else if (pB != cB) "COMPACT SIDECAR"
        else if (statsKey(prev.stats) != statsKey(cur.stats) ||
          prev.statCols != cur.statCols) "ANALYZE"
        else "COMMIT"
      }
    }
    val rows = asc.indices.sortBy(i => -asc(i).ordinal).map { i =>
      val (m, st) = (asc(i), states(i))
      // stats_missing: live files a declared stat-column set does NOT
      // cover — the observable form of the write-path coverage
      // invariant (a silent writePathStats degrade shows up here as a
      // reopened window; 0 until the table first declares stat columns)
      val missing =
        if (st.statCols.isEmpty) 0L
        else st.dataFiles.count(f => !st.stats.get(f).exists(_.nonEmpty)).toLong
      (m.seq, m.ordinal, new java.sql.Timestamp(m.file.lastModified()),
        st.dataFiles.size.toLong, st.batches.size.toLong,
        st.stats.size.toLong, classify(i), missing)
    }
    rows.toDF("version", "ordinal", "committed_at",
      "data_files", "tombstone_batches", "stats_files", "operation",
      "stats_missing")
  }

  /** CHANGE DATA FEED between two retained snapshots — one row per
    * row-level change committed in `(fromSeq, toSeq]`, the incremental
    * consumption surface (Delta CDF / Iceberg incremental reads) that
    * lets a downstream pipeline process a 100 TB table's DELTA instead of
    * rescanning it: the table's columns plus `_change_type`
    * ('insert' | 'delete'), `_commit_version` (the DML sequence
    * [[readAt]] pins) and `_commit_timestamp`. An update surfaces as its
    * two halves at one version — the old image as a delete, the
    * replacement as an insert — the pairing a consumer can reconstruct by
    * (key, version).
    *
    * Derivation is ONE scan of the `to` snapshot plus its (small,
    * broadcast) tombstone reduction — no per-commit passes: a row's
    * INSERT version is its file's sequence (file names carry their
    * commit's sequence), its DELETE version is the smallest tombstone
    * sequence above it for its key (the same strictly-smaller rule the
    * resolved read applies), and an event is in range iff its version
    * exceeds the `from` anchor's. That derivation is exact only while
    * every commit in range is a pure DML (files and batches only grow):
    * a compaction, sidecar merge, rewrite, or restore inside the range
    * re-keys files or collapses tombstone history, so the walk REFUSES
    * loudly and points at [[snapshotDiff]]. Both bounds resolve like
    * [[readAt]] (newest manifest ≤ seq; vacuum expiry fails loudly).
    */
  def readChanges(spark: SparkSession, path: String, fromSeq: Long,
      toSeq: Long = Long.MaxValue): DataFrame = {
    val ms = manifests(path)
    require(ms.nonEmpty,
      s"table at $path has no commit history (never manifest-managed) — " +
        "changes resolve manifests; run any MoR mutation first")
    def anchor(seq: Long, what: String): ManifestRef = {
      val eligible = ms.filter(_.seq <= seq)
      if (eligible.isEmpty)
        throw new IllegalStateException(
          s"no retained snapshot at sequence $seq for $path (the $what bound) — " +
            "expired by Maintenance.vacuum or predates the table")
      eligible.maxBy(_.ordinal)
    }
    val fromM = anchor(fromSeq, "from")
    val toM = anchor(toSeq, "to")
    val range = ms.filter(m => m.ordinal > fromM.ordinal && m.ordinal <= toM.ordinal)
    val atTo = readManifest(path, toM)

    // clean-range walk: per-commit attribution needs every range commit to
    // be a pure DML — monotone file/batch growth at increasing sequence
    // (an analyze republishes the same sets at the same sequence: fine).
    // Cost discipline: shards are CONTENT-ADDRESSED (shard-<sha1(body)>),
    // so equal shard-name sets prove equal file sets WITHOUT reading any
    // body, and a body read is needed at most once per DISTINCT shard
    // name across the whole walk (per-walk cache) — a month-long range
    // over a sharded table validates in O(distinct shards), not
    // O(commits × manifest body) driver reads.
    val shardCache = scala.collection.mutable.Map.empty[String, Set[String]]
    def walkView(m: ManifestRef): (Set[String], Set[String], Set[String]) = {
      val lines = scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(m.file.toPath)).asScala
      val inline = lines.collect {
        case l if l.startsWith("D ") => l.drop(2).takeWhile(_ != '\t') }.toSet
      val shards = lines.collect { case l if l.startsWith("S ") => l.drop(2) }.toSet
      val bs = lines.collect { case l if l.startsWith("B ") => l.drop(2) }.toSet
      (inline, shards, bs)
    }
    def filesOf(v: (Set[String], Set[String], Set[String]), mdir: java.io.File): Set[String] =
      v._1 ++ v._2.flatMap(n => shardCache.getOrElseUpdate(n,
        scala.jdk.CollectionConverters
          .ListHasAsScala(Files.readAllLines(new java.io.File(mdir, n).toPath)).asScala
          .collect { case l if l.startsWith("D ") => l.drop(2).takeWhile(_ != '\t') }
          .toSet))
    var prevV = walkView(fromM)
    var prevSeq = fromM.seq
    val commitTimes = scala.collection.mutable.Map.empty[Long, java.sql.Timestamp]
    range.foreach { m =>
      val curV = walkView(m)
      val mdir = m.file.getParentFile
      // equal name sets (inline AND shard) prove equal D sets; only a
      // differing pair pays body reads, and only for uncached shards
      val sameFiles = prevV._1 == curV._1 && prevV._2 == curV._2
      if (m.seq > prevSeq) {
        require((sameFiles || filesOf(prevV, mdir).subsetOf(filesOf(curV, mdir))) &&
          prevV._3.subsetOf(curV._3),
          s"commit ${m.file.getName} removed files or batches (a RESTORE): " +
            "per-commit change attribution is undefined across it — use " +
            "snapshotDiff for this range")
        if (!commitTimes.contains(m.seq))
          commitTimes(m.seq) = new java.sql.Timestamp(m.file.lastModified())
      } else {
        require((sameFiles || filesOf(prevV, mdir) == filesOf(curV, mdir)) &&
          prevV._3 == curV._3,
          s"commit ${m.file.getName} physically reorganized files or batches " +
            "(compaction / sidecar merge / rewrite): per-commit change " +
            "attribution is undefined across it — use snapshotDiff for this range")
      }
      prevV = curV
      prevSeq = m.seq
    }

    val lo = fromM.seq

    // per-key SORTED tombstone-sequence sets, broadcast onto the scans;
    // kill version = the smallest sequence above the row's file sequence.
    // No broadcast HINT: the planner (AQE) picks it when the sidecar is
    // small — the usual case — and falls back to a shuffled join when a
    // churn-heavy table's key set would not fit the driver, exactly like
    // the resolved read's anti-join.
    val seqsOpt =
      if (atTo.batches.isEmpty) None
      else {
        val side = sidecarOf(spark, atTo.batches)
        val keyCols = side.columns.toSeq.filterNot(_ == SeqCol)
        Some((side.groupBy(keyCols.map(col): _*)
          .agg(sort_array(collect_set(col(SeqCol))).as("__kill_seqs"))
          .select(keyCols.map(k => col(k).as(s"__tomb_$k")) :+ col("__kill_seqs"): _*),
          keyCols))
      }
    def withKillOf(df: DataFrame, joinType: String): DataFrame = seqsOpt match {
      case None => df.withColumn("__kill", lit(null).cast("long"))
      case Some((seqs, keyCols)) =>
        df.join(seqs,
            keyCols.map(k => df(k) === col(s"__tomb_$k")).reduce(_ && _), joinType)
          .withColumn("__kill",
            array_min(filter(col("__kill_seqs"), s => s > col("__mor_fseq"))))
          .drop("__kill_seqs")
          .drop(keyCols.map(k => s"__tomb_$k"): _*)
    }
    // Both event kinds off one tagged frame. Rows that can produce no
    // event — the bulk of a mature table — exit at a cheap boolean filter
    // BEFORE any event-array construction or explode: the filter is
    // exactly "the event array would be non-empty" (insert iff the file
    // sequence is in range, delete iff some kill lands in range), so the
    // old size(__events) > 0 post-filter is provably redundant and the
    // per-row array/Generate work runs only on the changed minority.
    def combinedEvents(raw: DataFrame, dataCols: Seq[String]): DataFrame =
      withKillOf(raw, "left")
        .filter(col("__mor_fseq") > lo ||
          (col("__kill").isNotNull && col("__kill") > lo))
        .withColumn("__events", filter(array(
          when(col("__mor_fseq") > lo,
            struct(lit("insert").as("t"), col("__mor_fseq").as("v"))),
          when(col("__kill").isNotNull && col("__kill") > lo,
            struct(lit("delete").as("t"), col("__kill").as("v")))),
          e => e.isNotNull))
        .select(dataCols.map(col) :+ explode(col("__events")).as("__e"): _*)
        .select(dataCols.map(col) :+ col("__e.t").as("_change_type") :+
          col("__e.v").as("_commit_version"): _*)

    val (events, dataCols) =
      if (atTo.schemaLog.nonEmpty || atTo.dataFiles.isEmpty) {
        val raw =
          if (atTo.schemaLog.nonEmpty) Evolution.evolvedRead(spark, path, atTo)
          else resolvedOf(spark, path, atTo, Long.MaxValue)
            .withColumn("__mor_fseq", lit(0L))
        val cols = raw.columns.toSeq.filterNot(_ == "__mor_fseq")
        (combinedEvents(raw, cols), cols)
      } else {
        // Route the event derivation on the sequence each file NAME
        // carries ([[nameSeq]] — the driver-side twin of the fileSeq
        // column): a file committed at or before the `from` anchor can
        // only contribute DELETE events. r17 split the file set into two
        // SCANS unioned back together; the per-task win was real but the
        // second scan + unionByName + extra AQE scheduling jobs cost more
        // wall than the heavy stage saved (VERDICT_r17 regression #1).
        // r18 keeps ONE scan and routes per row instead:
        //  - no in-range files (the mature-table shape, and the bench
        //    table): the whole scan rides an INNER probe against the
        //    tombstone keys — unmatched rows exit at the join, no event
        //    array, no Generate (PlanSpec's change-feed lock);
        //  - in-range files present: one combined scan; rows that can
        //    produce no event exit at combinedEvents' pre-filter. At
        //    scale the feed cost still tracks the changed minority: the
        //    probe+filter per row is the same either way, only the
        //    branch where unmatched rows exit differs.
        def scan(fs: Seq[String]) = {
          val s = memoSchema(fs, Some(path))(
            spark.read.option("basePath", path).parquet(fs: _*).schema)
          // when no scanned file postdates any DML (max nameSeq == 0) the
          // per-row parse is the constant 0 — same planning-time fact the
          // resolved read's equi fast path rides; the scan then never
          // materializes _metadata.file_path and the in-range pre-filter
          // `__mor_fseq > lo` constant-folds
          val seqCol = if (filesMaxSeq(fs) == 0L) lit(0L) else fileSeq
          spark.read.option("basePath", path).schema(s).parquet(fs: _*)
            .withColumn("__mor_fseq", seqCol)
        }
        val anyInRange = atTo.dataFiles.exists(nameSeq(_) > lo)
        if (anyInRange) {
          // pre-anchor files can only matter when tombstones exist —
          // without any, scan just the in-range files
          val fs =
            if (seqsOpt.nonEmpty) atTo.dataFiles
            else atTo.dataFiles.filter(nameSeq(_) > lo)
          val raw = scan(fs)
          val cols = raw.columns.toSeq.filterNot(_ == "__mor_fseq")
          (combinedEvents(raw, cols), cols)
        } else {
          val raw = scan(atTo.dataFiles)
          val cols = raw.columns.toSeq.filterNot(_ == "__mor_fseq")
          val ev = seqsOpt match {
            case None => raw.where(lit(false))
              .select(cols.map(col) :+ lit("delete").as("_change_type") :+
                lit(0L).as("_commit_version"): _*)
            case Some(_) => withKillOf(raw, "inner")
              .filter(col("__kill").isNotNull && col("__kill") > lo)
              .select(cols.map(col) :+ lit("delete").as("_change_type") :+
                col("__kill").as("_commit_version"): _*)
          }
          (ev, cols)
        }
      }
    import spark.implicits._
    val times = commitTimes.toSeq.sortBy(_._1)
      .toDF("_commit_version", "_commit_timestamp")
    val out = events.join(broadcast(times), Seq("_commit_version"), "left")
      .select(dataCols.map(col) :+ col("_change_type") :+
        col("_commit_version") :+ col("_commit_timestamp"): _*)
    // an empty range is provably changeless — skip the scan entirely
    if (range.isEmpty) out.where(lit(false)) else out
  }

  /** The NET row-level difference between two retained snapshots —
    * multiset `after − before` as inserts and `before − after` as deletes
    * (`_change_type` only; no per-commit attribution) — valid across ANY
    * pair of retained snapshots, including ranges a compaction, sidecar
    * merge, rewrite, or restore makes [[readChanges]] refuse: it compares
    * the resolved VIEWS, which physical reorganization never changes.
    * Costs two snapshot resolves plus an exceptAll shuffle each — the
    * fallback, not the fast path. */
  def snapshotDiff(spark: SparkSession, path: String, fromSeq: Long,
      toSeq: Long = Long.MaxValue): DataFrame = {
    val before = readAt(spark, path, fromSeq)
    val after = readAt(spark, path, toSeq)
    require(before.columns.toSeq == after.columns.toSeq,
      "snapshotDiff needs one schema at both snapshots and the range crosses a " +
        s"schema evolution (${before.columns.length} vs ${after.columns.length} " +
        "columns or renamed) — diff per schema-stable subrange instead")
    after.exceptAll(before).withColumn("_change_type", lit("insert"))
      .unionByName(before.exceptAll(after).withColumn("_change_type", lit("delete")))
  }

  /** Roll the LIVE view back to the snapshot at sequence `seq` — the
    * newest retained manifest with sequence ≤ `seq`, exactly what
    * [[readAt]] resolves — by re-publishing that state as a NEW commit.
    * The new manifest takes sequence maxSeq + 1: a restore CHANGES the
    * view, so unlike compaction (view-identical, re-publishes the
    * current sequence) it must never be resolvable under an
    * already-pinned snapshot handle — readers pinned before the restore
    * keep exactly what they pinned, and the restore itself becomes one
    * more version later commits supersede and [[readAt]] can pin.
    * Restored data files keep their original sequence-bearing NAMES, so
    * later tombstones doom them under the strictly-smaller rule
    * unchanged. Fails loudly when the target snapshot was expired by
    * vacuum, or when any of its files/batches no longer exist on disk
    * (same expiry contract as [[readAt]]). Returns the new version.
    */
  def restore(spark: SparkSession, path: String, seq: Long): Long = withWriterLock(path) {
    val ms = manifests(path)
    require(ms.nonEmpty, s"table at $path has no commit history to restore")
    val eligible = ms.filter(_.seq <= seq)
    if (eligible.isEmpty)
      throw new IllegalStateException(
        s"no retained snapshot at sequence $seq for $path — the manifest was " +
          "expired by Maintenance.vacuum or the sequence predates the table")
    val st = readManifest(path, eligible.maxBy(_.ordinal))
    val missing = st.dataFiles.filterNot(f => new java.io.File(f).exists()) ++
      st.batches.collect { case (_, d) if !d.isDirectory => d.getAbsolutePath }
    require(missing.isEmpty,
      s"cannot restore $path to sequence $seq: ${missing.size} of the " +
        s"snapshot's files were reclaimed (vacuum retention) — first: ${missing.head}")
    val newSeq = maxSeq(spark, path) + 1
    // a restore rolls back DATA (and with it the schema its files carry),
    // never idempotence history: the CURRENT txn markers carry forward, so
    // a streaming micro-batch applied before the restore stays applied —
    // replaying it after the rollback would double-commit on the restored
    // state's next DML
    val currentTxns = manifests(path).lastOption
      .map(readManifest(path, _).txns).getOrElse(Map.empty)
    publishManifest(path, newSeq, st.copy(txns = currentTxns))
    newSeq
  }

  /** The resolved view with DRIVER-SIDE FILE PRUNING from published
    * manifest stats — the Iceberg manifest-evaluator analog. The
    * conjuncts of `predicate` that are range comparisons on analyzed
    * numeric columns (`c <op> literal`, `c IN (…)`, literal-first forms,
    * BETWEEN via its two conjuncts) eliminate every file whose published
    * [min, max] cannot satisfy them BEFORE Spark builds its FileIndex —
    * at z-ordered layouts this turns a selective band read over N files
    * into a scan of the few overlapping ones without opening a single
    * footer. Anything the evaluator does not understand (other operators,
    * non-analyzed or non-numeric columns, expressions over several
    * columns) is conservatively ignored, and stats-less files always
    * survive, so the result is ALWAYS exactly
    * `read(spark, path).filter(predicate)`: pruning only drops files
    * whose rows the filter would drop anyway, and the tombstone
    * anti-join never resurrects rows. Never-analyzed tables fall back to
    * the unpruned read transparently.
    */
  def readWhere(spark: SparkSession, path: String, predicate: Column): DataFrame = {
    val ms = manifests(path)
    if (ms.isEmpty) return read(spark, path).filter(predicate)
    val st = readManifest(path, ms.maxBy(_.ordinal))
    val kept = pruneByStats(spark, st, predicate)
    resolvedOf(spark, path, st.copy(dataFiles = kept), Long.MaxValue)
      .filter(predicate)
  }

  /** The data files of `st` that MAY contain a row matching `predicate`,
    * judged by published per-file column stats (see [[readWhere]]) PLUS
    * the file's own Hive-layout partition values — a `month=199603`
    * directory segment is an exact min=max bound for `month`, so a
    * partition predicate prunes the list even on a never-analyzed table
    * (the Iceberg partition-values-in-manifest split, derived from the
    * path instead of stored). Exposed for specs and rehearsals. */
  private[graft] def pruneByStats(spark: SparkSession, st: State,
      predicate: Column): Seq[String] = {
    statsPredOf(org.apache.spark.sql.GraftSqlBridge.toExpr(spark, predicate)) match {
      case None => st.dataFiles
      case Some(p) =>
        val anc = commonAncestorOf(st.dataFiles)
        val zone = sessionZone(spark)
        st.dataFiles.filter(f =>
          p(st.stats.getOrElse(f, Nil) ++ pathPartitionStats(anc, f, zone)))
    }
  }

  private[graft] def sessionZone(spark: SparkSession): java.time.ZoneId =
    org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
      spark.sessionState.conf.sessionLocalTimeZone)

  /** The deepest directory containing every file — the sound lower
    * bound for partition-segment parsing when the TABLE BASE is not in
    * hand: a `col=value` segment strictly BELOW the common ancestor is
    * necessarily below the base too, while the ancestor itself may BE a
    * kv-named base directory (a table rooted at /data/v=2) whose name
    * must never be read as a partition value. The price of deriving
    * instead of threading the base: a table whose live files all sit in
    * ONE partition loses that partition's bound (conservative, never
    * wrong). */
  private[graft] def commonAncestorOf(files: Seq[String]): java.nio.file.Path = {
    if (files.isEmpty) return null
    var anc = Paths.get(files.head).getParent
    files.drop(1).foreach { f =>
      var p = Paths.get(f).getParent
      while (anc != null && (p == null || !p.startsWith(anc)))
        anc = anc.getParent
      ()
    }
    anc
  }

  /** Synthetic per-file stats from the file's `col=value` directory
    * segments strictly BELOW `base` (exclusive — see
    * [[commonAncestorOf]] for why the bound matters). Each value is
    * classified by SPARK'S OWN partition-type inference
    * ([[org.apache.spark.sql.execution.datasources.GraftPartitionBridge]])
    * so a bound is only ever published in the domain the read path will
    * actually bind the column at — the soundness rule this replaced a
    * hand-rolled parse for: `x=1.5` infers DOUBLE, so a string bound
    * "1.5" would let a binary compare against the coerced literal
    * "1.50" prune a matching file. Per inferred type:
    *  - int/long/double → exact numeric bound (domain "n");
    *  - date → exact day bound ("d"), via Spark's date parse (which
    *    accepts "2020-1-9" where `LocalDate.parse` does not);
    *  - timestamp / timestamp_ntz → exact µs bound ("t"/"u") — the µs
    *    value is computed in THIS session's zone, the same zone the
    *    read will materialize the column in, so both sides agree;
    *  - decimal → counts only (a >2^53 integral rounds in the double
    *    domain, so a range bound could prune a matching file);
    *  - string → its own exact string bound (only now that every
    *    coercible spelling has been routed to its real domain);
    *  - `__HIVE_DEFAULT_PARTITION__` / uncastable → an all-null column
    *    (range leaves prune it, IS NULL keeps it). */
  private[graft] def pathPartitionStats(base: java.nio.file.Path,
      f: String, zone: java.time.ZoneId): Seq[FileColStat] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FileColStat]
    var p = Paths.get(f).getParent
    var go = true
    while (go && p != null && p.getFileName != null &&
        base != null && p.startsWith(base) && p != base) {
      val seg = p.getFileName.toString
      val i = seg.indexOf('=')
      if (i <= 0) go = false
      else {
        val c = unescapePathName(seg.substring(0, i))
        out += partValueStat(c, seg.substring(i + 1), zone)
        p = p.getParent
      }
    }
    out.toSeq
  }

  // inference results memoized per (escaped value, zone) — partition
  // values are low-cardinality across a manifest's file list, and each
  // miss costs a synthetic one-directory parsePartitions call
  private val partInferCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (org.apache.spark.sql.types.DataType, Any)]

  private def partValueStat(c: String, v0: String,
      zone: java.time.ZoneId): FileColStat = {
    import org.apache.spark.sql.types._
    if (partInferCache.size > 65536) partInferCache.clear()
    val (dt, cv) = partInferCache.computeIfAbsent((v0, zone.getId), _ =>
      org.apache.spark.sql.execution.datasources.GraftPartitionBridge
        .inferSegmentValue(v0, zone))
    if (cv == null) FileColStat(c, Double.NaN, Double.NaN, "n", 1L, 1L)
    else dt match {
      case IntegerType =>
        val d = cv.asInstanceOf[Int].toDouble
        FileColStat(c, d, d, "n", 0L, 1L)
      case LongType =>
        val d = cv.asInstanceOf[Long].toDouble
        FileColStat(c, d, d, "n", 0L, 1L)
      case DoubleType =>
        val d = cv.asInstanceOf[Double]
        FileColStat(c, d, d, "n", 0L, 1L)
      case DateType =>
        val d = cv.asInstanceOf[Int].toDouble
        FileColStat(c, d, d, "d", 0L, 1L)
      case TimestampType =>
        val d = cv.asInstanceOf[Long].toDouble
        FileColStat(c, d, d, "t", 0L, 1L)
      case TimestampNTZType =>
        val d = cv.asInstanceOf[Long].toDouble
        FileColStat(c, d, d, "u", 0L, 1L)
      case StringType =>
        val s = cv.toString
        FileColStat(c, Double.NaN, Double.NaN, "s", 0L, 1L, Some(s), Some(s))
      case _ => // decimal (double-rounding risk) and future types: counts only
        FileColStat(c, Double.NaN, Double.NaN, "n", 0L, 1L)
    }
  }

  /** A compiled MAY-MATCH predicate over one file's published stats:
    * true = the file may hold a matching row (scan it), false = its
    * bounds prove it cannot (prune it). */
  private[graft] type StatsPred = Seq[FileColStat] => Boolean

  /** Compile a predicate's FULL boolean tree into a may-match judgment —
    * AND/OR over range/equality/IN comparisons of ONE (possibly
    * numeric-cast) column against numeric/date/timestamp literals.
    * Handles BOTH expression spellings: the Column DSL builds
    * UnresolvedFunction('<=', args) nodes while expr("…")-parsed or
    * analyzer-RESOLVED predicates (what a FileIndex receives as
    * dataFilters) carry typed Catalyst nodes. Soundness is structural:
    * an opaque subtree is may-match TRUE, so under AND the provable
    * siblings still prune, under OR the whole disjunction becomes
    * unprovable (None at the root = prune nothing) — a disjunct the
    * evaluator cannot bound could match anywhere. NOT is opaque (bounds
    * prove containment, not absence). */
  private[graft] def statsPredOf(root: org.apache.spark.sql.catalyst.expressions.Expression): Option[StatsPred] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def parts(e: ce.Expression): Option[(String, Seq[ce.Expression])] = e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        Some(f.nameParts.last.toLowerCase -> f.arguments)
      case ce.And(l, r) => Some("and" -> Seq(l, r))
      case ce.Or(l, r) => Some("or" -> Seq(l, r))
      case ce.GreaterThan(l, r) => Some(">" -> Seq(l, r))
      case ce.GreaterThanOrEqual(l, r) => Some(">=" -> Seq(l, r))
      case ce.LessThan(l, r) => Some("<" -> Seq(l, r))
      case ce.LessThanOrEqual(l, r) => Some("<=" -> Seq(l, r))
      case ce.EqualTo(l, r) => Some("=" -> Seq(l, r))
      case ce.In(v, list) => Some("in" -> (v +: list))
      case ce.IsNull(a) => Some("isnull" -> Seq(a))
      case ce.IsNotNull(a) => Some("isnotnull" -> Seq(a))
      case l: ce.Like if l.escapeChar == '\\' => Some("like" -> Seq(l.left, l.right))
      case ce.StartsWith(l, r) => Some("startswith" -> Seq(l, r))
      case _ => None
    }
    // the column side: a bare attribute, optionally under a NUMERIC cast
    // (a widening cast preserves the double-domain bounds; a string cast
    // would compare lexically and must not prune on numeric stats)
    def bareAttrOf(e: ce.Expression): Option[String] = e match {
      case a: ce.AttributeReference => Some(a.name.toLowerCase)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(u.name.toLowerCase)
      case _ => None
    }
    // Unwrap a cast over the column ONLY when it provably preserves the
    // value (Cast.canUpCast — Spark's own loss-free widening rule): a
    // NARROWING cast changes the matched set (CAST(x AS INT) = 3 matches
    // every x in [3.0, 4.0), but a file with bounds [3.2, 3.9] fails
    // min <= 3 <= max and would be wrongly pruned), long→tinyint wraps,
    // int→float loses precision. An UNRESOLVED child (the Column-DSL
    // spelling) has no dataType to check, so it is opaque too — may-match
    // true prunes nothing, which is always sound.
    def attrOf(e: ce.Expression): Option[String] = e match {
      case c: ce.Cast
          if c.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
            c.child.resolved && ce.Cast.canUpCast(c.child.dataType, c.dataType) =>
        attrOf(c.child)
      case other => bareAttrOf(other)
    }
    // the literal side: a numeric, DATE, or TIMESTAMP literal (the latter
    // two in Catalyst's own encodings — Int days / Long µs — exactly the
    // domain [[Maintenance.analyze]] publishes bounds in), or a foldable
    // cast folding to one of those types
    def valOf(v: Any): Option[Double] = v match {
      case null => None
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case n: Number => Some(n.doubleValue())
      case _ => None
    }
    def domainOf(dt: org.apache.spark.sql.types.DataType): Option[String] = dt match {
      case _: org.apache.spark.sql.types.NumericType => Some("n")
      case org.apache.spark.sql.types.DateType => Some("d")
      case org.apache.spark.sql.types.TimestampType => Some("t")
      case org.apache.spark.sql.types.TimestampNTZType => Some("u")
      case _ => None
    }
    // (literal domain, value); the domain rides the rule so a literal in
    // one domain never compares against bounds published in another
    def numOf(e: ce.Expression): Option[(String, Double)] = e match {
      case ce.Literal(v, dt) =>
        for (dm <- domainOf(dt); d <- valOf(v)) yield (dm, d)
      case c: ce.Cast if c.foldable =>
        for (dm <- domainOf(c.dataType); d <- valOf(c.eval(null))) yield (dm, d)
      case _ => None
    }
    // one bounded comparison leaf: the column's stats entry must exist,
    // agree on the literal's DOMAIN (a µs literal must never judge day
    // bounds), and carry non-NaN bounds (Spark orders NaN ABOVE every
    // number, so range reasoning is unsafe there) — otherwise may-match.
    // An ALL-NULL column (published nulls == rows) can satisfy no
    // comparison at all (SQL: NULL <op> x is never TRUE), so it prunes
    // regardless of domain or bounds.
    def leaf(c: String, dm: String, fn: (Double, Double) => Boolean): StatsPred =
      stats => stats.find(_.col.toLowerCase == c) match {
        case Some(s) if s.nulls >= 0 && s.rows >= 0 && s.nulls == s.rows => false
        case Some(s) if s.domain == dm && !s.min.isNaN && !s.max.isNaN =>
          fn(s.min, s.max)
        case _ => true
      }
    // null-presence leaves judge the published counts alone (no domain,
    // no bounds): IS NULL needs at least one null, IS NOT NULL at least
    // one non-null; unpublished counts (−1, the pre-null-count encoding)
    // keep the file
    def nullLeaf(c: String, wantNull: Boolean): StatsPred =
      stats => stats.find(_.col.toLowerCase == c) match {
        case Some(s) if s.nulls >= 0 && s.rows >= 0 =>
          if (wantNull) s.nulls > 0 else s.nulls < s.rows
        case _ => true
      }
    // Bounds and literals both live in the DOUBLE domain; an integral
    // source value above 2^53 (a hash-derived BIGINT key, a far-future
    // µs timestamp) rounds on BOTH sides, and rounding is monotonic but
    // not injective — v > L with round(v) == round(L) is possible, so a
    // STRICT comparison against the rounded bound could prune a file
    // holding a matching row. One ulp of slack, applied only where
    // doubles stop being exact integers, restores soundness; <=, >=, =
    // and IN are monotone-safe without it (v ≥ L ⟹ round(v) ≥ round(L)).
    val exactAbs = 9007199254740992.0 // 2^53
    def upSlack(x: Double) = if (math.abs(x) >= exactAbs) Math.nextUp(x) else x
    def downSlack(x: Double) = if (math.abs(x) >= exactAbs) Math.nextDown(x) else x
    def cmpLeaf(op: String, c: String, dv: (String, Double)): StatsPred = {
      val (dm, v) = dv
      op match {
        case ">" => leaf(c, dm, (_, mx) => upSlack(mx) > v)
        case ">=" => leaf(c, dm, (_, mx) => mx >= v)
        case "<" => leaf(c, dm, (mn, _) => downSlack(mn) < v)
        case "<=" => leaf(c, dm, (mn, _) => mn <= v)
        case _ => leaf(c, dm, (mn, mx) => mn <= v && v <= mx) // =, ==
      }
    }
    // the string literal side — a bare string literal only (a foldable
    // cast to string would compare in a representation the bounds were
    // not computed in)
    def strOf(e: ce.Expression): Option[String] = e match {
      case ce.Literal(u: org.apache.spark.unsafe.types.UTF8String,
        org.apache.spark.sql.types.StringType) => Some(u.toString)
      case ce.Literal(s: String, org.apache.spark.sql.types.StringType) => Some(s)
      case _ => None
    }
    // string comparison leaves judge the published STRING bounds in
    // UTF8String binary order — the exact order the analyze pass's
    // min/max aggregates computed them in, so evaluator and data can
    // never disagree on collation; entries without string bounds
    // (numeric columns, >64-char values, legacy encodings) keep the file
    def sCmp(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    def sLeaf(c: String, fn: (String, String) => Boolean): StatsPred =
      stats => stats.find(_.col.toLowerCase == c) match {
        case Some(s) if s.nulls >= 0 && s.rows >= 0 && s.nulls == s.rows => false
        case Some(s) if s.smin.isDefined && s.smax.isDefined =>
          fn(s.smin.get, s.smax.get)
        case _ => true
      }
    def cmpLeafS(op: String, c: String, v: String): StatsPred = op match {
      case ">" => sLeaf(c, (_, mx) => sCmp(mx, v) > 0)
      case ">=" => sLeaf(c, (_, mx) => sCmp(mx, v) >= 0)
      case "<" => sLeaf(c, (mn, _) => sCmp(mn, v) < 0)
      case "<=" => sLeaf(c, (mn, _) => sCmp(mn, v) <= 0)
      case _ => sLeaf(c, (mn, mx) => sCmp(mn, v) <= 0 && sCmp(v, mx) <= 0)
    }
    // LIKE 'prefix%' / startsWith: a prefix match is the byte range
    // [prefix, increment-last-byte(prefix)). The upper bound computes on
    // UTF-8 BYTES (strip trailing 0xFF, bump the last byte) because a
    // char-level bound like prefix+'￿' is NOT a bound in binary
    // order — 4-byte UTF-8 (F0..) sorts above EF BF BF. An all-0xFF
    // prefix has no upper bound and uses the lower test alone.
    def bcmp(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      while (i < a.length && i < b.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    def bInc(b: Array[Byte]): Option[Array[Byte]] = {
      var n = b.length
      while (n > 0 && b(n - 1) == 0xff.toByte) n -= 1
      if (n == 0) None
      else {
        val out = java.util.Arrays.copyOf(b, n)
        out(n - 1) = (out(n - 1) + 1).toByte
        Some(out)
      }
    }
    def prefixLeaf(c: String, pre: String): StatsPred =
      stats => stats.find(_.col.toLowerCase == c) match {
        case Some(s) if s.nulls >= 0 && s.rows >= 0 && s.nulls == s.rows => false
        case Some(s) if s.smin.isDefined && s.smax.isDefined =>
          val pb = pre.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val mn = s.smin.get.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val mx = s.smax.get.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          bcmp(mx, pb) >= 0 && bInc(pb).forall(ub => bcmp(mn, ub) < 0)
        case _ => true
      }
    // a LIKE pattern reduces to a prefix only when its single wildcard
    // is one trailing '%' (no '_', no escapes); a wildcard-free pattern
    // is plain equality
    def likePrefixOf(pat: String): Option[Either[String, String]] = {
      if (pat.exists(ch => ch == '_' || ch == '\\')) None
      else {
        val pctAt = pat.indexOf('%')
        if (pctAt < 0) Some(Left(pat)) // equality
        else if (pctAt == pat.length - 1) Some(Right(pat.dropRight(1)))
        else None
      }
    }
    def flip(op: String): String = op match {
      case ">" => "<"; case ">=" => "<="; case "<" => ">"; case "<=" => ">="
      case other => other
    }
    val cmps = Set(">", ">=", "<", "<=", "=", "==")
    def compile(e: ce.Expression): Option[StatsPred] = parts(e) match {
      case Some(("and", args)) =>
        // an opaque sibling is may-match true — provable siblings prune
        val cs = args.map(compile)
        if (cs.forall(_.isEmpty)) None
        else Some(st => cs.forall(_.forall(_(st))))
      case Some(("or", args)) =>
        // one opaque DISJUNCT poisons the whole OR: it could match rows
        // in any file, so nothing is provably prunable
        val cs = args.map(compile)
        if (cs.exists(_.isEmpty)) None
        else Some(st => cs.exists(_.exists(_(st))))
      case Some(("like", Seq(a, pat))) if bareAttrOf(a).isDefined =>
        for {
          c <- bareAttrOf(a)
          p <- strOf(pat)
          pre <- likePrefixOf(p)
        } yield pre.fold(cmpLeafS("=", c, _), prefixLeaf(c, _))
      case Some(("startswith", Seq(a, pat))) if bareAttrOf(a).isDefined =>
        for (c <- bareAttrOf(a); p <- strOf(pat)) yield prefixLeaf(c, p)
      // null-presence leaves take the BARE attribute only — never the
      // cast unwrap the range leaves use: a numeric cast is not
      // null-transparent (overflow/NaN under non-ANSI casts yields NULL),
      // so IsNull(CAST(c AS DECIMAL)) over a null-free column can still
      // match rows and must keep the file
      case Some(("isnull", Seq(a))) if bareAttrOf(a).isDefined =>
        bareAttrOf(a).map(nullLeaf(_, wantNull = true))
      case Some(("isnotnull", Seq(a))) if bareAttrOf(a).isDefined =>
        bareAttrOf(a).map(nullLeaf(_, wantNull = false))
      case Some((op, Seq(a, l))) if cmps(op) && attrOf(a).isDefined =>
        attrOf(a).flatMap(c => numOf(l).map(cmpLeaf(op, c, _))
          .orElse(strOf(l).filter(_ => bareAttrOf(a).isDefined)
            .map(cmpLeafS(op, c, _))))
      case Some((op, Seq(l, a))) if cmps(op) && attrOf(a).isDefined =>
        // literal-first spellings normalize by flipping the operator
        attrOf(a).flatMap(c => numOf(l).map(cmpLeaf(flip(op), c, _))
          .orElse(strOf(l).filter(_ => bareAttrOf(a).isDefined)
            .map(cmpLeafS(flip(op), c, _))))
      case Some(("in", a +: list)) if list.nonEmpty =>
        val vs = list.map(numOf)
        val ss = list.map(strOf)
        if (vs.forall(_.isDefined))
          for {
            c <- attrOf(a)
            // a mixed-domain IN list cannot prune soundly
            if vs.flatten.map(_._1).distinct.size == 1
          } yield leaf(c, vs.flatten.head._1, (mn, mx) =>
            vs.flatten.exists { case (_, v) => mn <= v && v <= mx })
        else if (ss.forall(_.isDefined))
          bareAttrOf(a).map(c => sLeaf(c, (mn, mx) =>
            ss.flatten.exists(v => sCmp(mn, v) <= 0 && sCmp(v, mx) <= 0)))
        else None
      case _ => None // opaque: prunes nothing
    }
    compile(root)
  }

  /** The resolved view of one published state: its data files with its
    * tombstone batches anti-joined under the sequence rule. Every file
    * and batch in a manifest has sequence ≤ the manifest's own, so no
    * extra pinning filter is needed beyond selecting the manifest. */
  /** Planning-time upper bound on [[fileSeq]] over rows of `files` —
    * exact, because a row's per-row sequence IS [[nameSeq]] of its file's
    * name (one shared parse, pinned by spec). */
  private def filesMaxSeq(files: Seq[String]): Long =
    files.map(nameSeq).foldLeft(0L)(math.max)

  private def resolvedOf(spark: SparkSession, path: String, st: State,
      seq: Long): DataFrame = {
    val raw =
      if (st.schemaLog.nonEmpty)
        // evolved table: epoch-grouped read at the logical schema (the
        // union computes __mor_fseq per epoch; applyTombstones reuses it)
        Evolution.evolvedRead(spark, path, st)
      else if (st.dataFiles.nonEmpty)
        statsIndexedRead(spark, path, st).getOrElse {
          val s = memoSchema(st.dataFiles, Some(path))(
            spark.read.option("basePath", path).parquet(st.dataFiles: _*).schema)
          spark.read.option("basePath", path).schema(s).parquet(st.dataFiles: _*)
        }
      else if (st.schema.nonEmpty)
        // fully-emptied but schema-declared table: the manifest itself
        // carries the schema for the empty view. The file-sequence column
        // materializes HERE — a LocalRelation has no _metadata for
        // applyTombstones to tag (it reuses a pre-computed __mor_fseq)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          Evolution.logicalSchema(st))
          .withColumn("__mor_fseq", lit(0L))
      else {
        // every live row deleted and compacted away: derive the schema
        // from any retained file (vacuum keeps the table dir until the
        // user drops it; an empty dir with no history is unreadable)
        require(walkData(path).nonEmpty,
          s"table at $path has no live and no retained data files — cannot " +
            "derive a schema for the empty view")
        spark.read.option("basePath", path).parquet(path).where(lit(false))
      }
    // the retained-file fallback reads files OUTSIDE st.dataFiles (all
    // filtered away), so only the manifest-listed branches can bound the
    // per-row sequence from the names
    val fmax =
      if (st.dataFiles.nonEmpty || st.schemaLog.nonEmpty || st.schema.nonEmpty)
        filesMaxSeq(st.dataFiles)
      else Long.MaxValue
    applyTombstones(spark, raw, st.batches.filter(_._1 <= seq), fmax)
  }

  /** Build the snapshot's base read over a [[MorStatsFileIndex]] so
    * Spark's OWN planning prunes files from the manifest stats — any
    * pushed data filter (a WHERE above the resolved view, a join-side
    * filter) eliminates non-overlapping files before the scan lists them,
    * visible as the scan node's file count in `explain`. Engaged exactly
    * when it can be equivalent to the plain read: published stats exist,
    * the layout is FLAT (partition-directory tables keep the basePath
    * path, which is what recovers their directory columns), and the
    * session is a classic local one (`baseRelationToDataFrame` is the
    * classic entry point). Everything else falls back — `None` — to the
    * plain multi-path parquet read.
    */
  /** The `col=value` directory segments of one data file below the table
    * base — a Hive-layout partition spec, or Nil for a flat file. The
    * `__HIVE_DEFAULT_PARTITION__` sentinel decodes to null, matching
    * Spark's own listing. */
  /** Hive-style %xx path unescape (Spark escapes partition values with
    * `escapePathName` on write — including '%' itself as %25 — so
    * decoding is unambiguous; a malformed %-run passes through as-is). */
  private[sources] def unescapePathName(v: String): String =
    if (!v.contains('%')) v
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < v.length) {
        val c = v.charAt(i)
        if (c == '%' && i + 2 < v.length) {
          val hex = v.substring(i + 1, i + 3)
          try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
          catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  private[sources] def partitionSegsOf(base: java.nio.file.Path,
      f: String): Seq[(String, Option[String])] = {
    val rel = base.relativize(Paths.get(f))
    (0 until rel.getNameCount - 1).map(rel.getName(_).toString).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val v = seg.substring(i + 1)
        Some(unescapePathName(seg.substring(0, i)) ->
          (if (v == "__HIVE_DEFAULT_PARTITION__") None
          else Some(unescapePathName(v))))
      }
    }
  }

  /** First `n` CODE POINTS of `s` (never splits a surrogate pair) — a
    * prefix sorts ≤ every extension in UTF-8 binary order, so this is a
    * sound truncated LOWER bound. */
  private[graft] def truncCp(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))

  /** A strict UPPER bound for `s` at most `n` code points long: truncate
    * to `n` code points, then bump the last bump-able code point by one
    * (skipping the surrogate gap — D800–DFFF are not code points a valid
    * string can carry alone). Code-point order IS UTF-8 binary order, so
    * the bumped prefix sorts above every extension of the original —
    * the Iceberg `truncate`-with-increment upper-bound trick at the
    * code-point level, which (unlike byte-level increment) always yields
    * a VALID string the line-oriented manifest can round-trip. None when
    * every retained code point is U+10FFFF (no finite bump exists). */
  private[graft] def truncatedUpperBound(s: String, n: Int): Option[String] = {
    val t = truncCp(s, n)
    var end = t.length
    var out: Option[String] = None
    while (end > 0 && out.isEmpty) {
      val cp = t.codePointBefore(end)
      val start = end - Character.charCount(cp)
      if (cp < 0x10FFFF) {
        var next = cp + 1
        if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
        out = Some(t.substring(0, start) + new String(Character.toChars(next)))
      } else end = start
    }
    out
  }

  /** The table's partition-directory column NAMES, derived from the
    * first live file's `col=value` path segments — the rename-proof
    * derivation (a schema-vs-footer compare false-positives on renamed
    * data columns, whose logical names are absent from old footers;
    * paths cannot lie about layout). Partition columns are never
    * renamed or dropped ([[graft.sources.Evolution]] refuses), so one
    * file's segment names describe every file's. */
  private[sources] def partitionColsFromPaths(path: String, st: State): Seq[String] =
    st.dataFiles.headOption
      .map(f => partitionSegsOf(tableAbs(path), f).map(_._1)).getOrElse(Nil)

  private def statsIndexedRead(spark: SparkSession, path: String,
      st: State): Option[DataFrame] = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val base = tableAbs(path)
    // schemaLog non-empty = live files may physically disagree with the
    // logical schema; the single-relation FileIndex read cannot express
    // that — the evolved path handles it (and a physical migration
    // re-engages this one)
    val segs = st.dataFiles.map(f => partitionSegsOf(base, f))
    val partCols = segs.headOption.getOrElse(Nil).map(_._1)
    // flat layout, or a CONSISTENT Hive layout (every file carries the
    // same partition column sequence); a mixed layout falls back to the
    // plain read, which Spark resolves through its own listing rules
    val uniform = segs.forall(_.map(_._1) == partCols)
    val eligible = st.stats.nonEmpty && st.schemaLog.isEmpty && uniform &&
      st.dataFiles.forall(f => Paths.get(f).startsWith(base))
    spark match {
      case cs: org.apache.spark.sql.classic.SparkSession if eligible =>
        // partition schema + per-directory catalyst values come from
        // Spark's OWN parsePartitions over the live leaf directories
        // (via GraftPartitionBridge), so this index's declared types are
        // IDENTICAL to what the plain basePath fallback would infer for
        // the same layout — double/timestamp/decimal partitions
        // included, with Spark's cross-directory widening rules. A parse
        // failure (conflicting layouts reaching past the uniform check)
        // falls back to the plain read rather than guessing.
        val zone = sessionZone(spark)
        val parsed = scala.util.Try {
          val leafDirs = st.dataFiles
            .map(f => Paths.get(f).getParent.toString).distinct
          org.apache.spark.sql.execution.datasources.GraftPartitionBridge
            .parse(leafDirs.map(d => new org.apache.hadoop.fs.Path("file:" + d)),
              new org.apache.hadoop.fs.Path("file:" + base), zone,
              cs.sessionState.conf.caseSensitiveAnalysis)
        }.toOption
        if (parsed.isEmpty) return None
        val spec = parsed.get
        val partSchema = spec.partitionColumns
        val dirValues: Map[String, Seq[Any]] = spec.partitions
          .map(p => p.path.toUri.getPath -> p.values.toSeq(partSchema)).toMap
        // a partitioned layout where some live dir did not parse must
        // fall back whole — a partial value row would mis-bind filters
        if (partSchema.nonEmpty &&
            !st.dataFiles.forall(f => dirValues.contains(Paths.get(f).getParent.toString)))
          return None
        val files = st.dataFiles.map { f =>
          val jf = new java.io.File(f)
          (new org.apache.hadoop.fs.FileStatus(jf.length(), false, 1,
            128L * 1024 * 1024, jf.lastModified(),
            new org.apache.hadoop.fs.Path("file:" + f)),
            dirValues.getOrElse(Paths.get(f).getParent.toString, Nil): Seq[Any],
            st.stats.getOrElse(f, Nil))
        }
        val schema = memoSchema(Seq(st.dataFiles.head), None)(
          cs.read.parquet(st.dataFiles.head).schema)
        val index = new MorStatsFileIndex(
          new org.apache.hadoop.fs.Path("file:" + base), partSchema, files)
        Some(cs.baseRelationToDataFrame(HadoopFsRelation(index,
          partSchema, schema, None, new ParquetFileFormat(), Map.empty)(cs)))
      case _ => None
    }
  }

  /** `maxFileSeq` is a planning-time UPPER bound on any pinned row's
    * `__mor_fseq` (max [[nameSeq]] over the snapshot's data files, or
    * Long.MaxValue when the caller cannot bound it). When it is 0 — no
    * data file postdates any DML, the mature base-files-plus-deletes
    * common case — the per-row `__mor_fseq < seq` clause is
    * constant-TRUE for every (row, tombstone) pair (every tombstone ROW
    * carries the sequence of the DML that wrote it, ≥ 1 always; a merged
    * batch preserves those per-row seqs under a max-named directory, so
    * the DIRECTORY name is an upper bound only and `0 < 1 ≤ seq` is the
    * one sound name-derived comparison). The anti-join then degrades to
    * a plain equi probe on the keys: the scan never materializes
    * `_metadata.file_path`, pays no per-row name parse, and the
    * broadcast side carries no sequence column. Any `part-morN-` data
    * file (MERGE/upsert append, compaction or z-order rewrite) raises
    * the bound and falls back to the full sequence-compared join. */
  private def applyTombstones(spark: SparkSession, pinned: DataFrame,
      bs: Seq[(Long, java.io.File)], maxFileSeq: Long): DataFrame =
    if (bs.isEmpty) pinned.drop("__mor_fseq")
    else {
      val side = sidecarOf(spark, bs)
      val keyCols = side.columns.toSeq.filterNot(_ == SeqCol)
      if (maxFileSeq == 0L) {
        val left = pinned.drop("__mor_fseq")
        left.join(tomb(side, keyCols).drop(SeqCol),
            keyCols.map(k => left(k) === col(s"__tomb_$k")).reduce(_ && _),
            "left_anti")
      } else {
        // an evolved read pre-computes __mor_fseq per epoch (the _metadata
        // pseudo-column resolves only on a direct file scan, not above the
        // epoch union) — reuse it; plain reads compute it here
        val tagged =
          if (pinned.columns.contains("__mor_fseq")) pinned
          else pinned.withColumn("__mor_fseq", fileSeq)
        tagged.join(tomb(side, keyCols),
            keyCols.map(k => tagged(k) === col(s"__tomb_$k")).reduce(_ && _) &&
              col("__mor_fseq") < col(SeqCol),
            "left_anti")
          .drop("__mor_fseq")
      }
    }

  /** The per-key max-sequence tombstone reduction, key columns renamed to
    * a __tomb_ prefix so the join condition never captures a same-named
    * column of the left side by accident. */
  private def tomb(side: DataFrame, keyCols: Seq[String]): DataFrame =
    side.groupBy(keyCols.map(col): _*)
      .agg(max(col(SeqCol)).as(SeqCol))
      .select(keyCols.map(k => col(k).as(s"__tomb_$k")) :+ col(SeqCol): _*)

  /** Estimated change-feed ROW count per commit in `(fromSeq, toSeq]`,
    * ascending — the admission-control input for a rows-capped
    * [[graft.streaming.MorCdfSource]] batch: appended data-file rows
    * (the manifest's own per-file stats when published — the usual case
    * under write-path stats — a parquet footer metadata read otherwise)
    * plus appended tombstone rows (sidecar footers). Driver-side cost is
    * bounded by the range's NEW files/batches, never table size.
    * Estimates feed admission only, never correctness — a commit always
    * admits whole (sub-commit splits would break per-commit
    * attribution). */
  private[graft] def changeRowEstimates(spark: SparkSession, path: String,
      fromSeq: Long, toSeq: Long): Seq[(Long, Long)] = {
    val ms = manifests(path)
    if (ms.isEmpty) return Nil
    val eligible = ms.filter(_.seq <= fromSeq)
    val fromOrd = eligible.map(_.ordinal).maxOption.getOrElse(-1L)
    var prev: State = eligible.maxByOption(_.ordinal)
      .map(readManifest(path, _)).getOrElse(State(Nil, Nil))
    val out = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    ms.filter(m => m.ordinal > fromOrd && m.seq <= toSeq)
      .sortBy(_.ordinal).foreach { m =>
        val cur = readManifest(path, m)
        val prevF = prev.dataFiles.toSet
        val prevB = prev.batches.map(_._2.getName).toSet
        val fileRows = cur.dataFiles.filterNot(prevF).map { f =>
          cur.stats.get(f).flatMap(_.headOption).map(_.rows).filter(_ >= 0)
            .getOrElse(scala.util.Try(CowCore.footerRows(Seq(f))).getOrElse(0L))
        }.sum
        val tombRows = cur.batches.filterNot(b => prevB(b._2.getName))
          .map(b => scala.util.Try(
            CowCore.footerRows(Seq(b._2.getAbsolutePath))).getOrElse(0L)).sum
        if (m.seq > fromSeq)
          out(m.seq) = out.getOrElse(m.seq, 0L) + fileRows + tombRows
        prev = cur
      }
    out.toSeq
  }

  /** Fold the tombstones into the table files (CoW rewrite of only the
    * files containing tombstoned keys at an older sequence), committed
    * with one atomic manifest rename. Replaced files and folded batches
    * are RETAINED on disk for readers holding older manifests, until
    * [[Maintenance.vacuum]] reclaims them — a reader overlapping the
    * compaction sees the pre-state or the post-state, never a mix.
    * Returns the CoW stats; no-op when the live sidecar is empty.
    *
    * `minDoomedFraction` bounds write amplification under a long
    * tombstone tail: only files whose doomed-row fraction ≥ the
    * threshold rewrite (per-file doomed/total counts ride one
    * metadata-projection aggregate each); the rest stay on the read-side
    * anti-join, and the WHOLE live batch set is conservatively carried
    * into the new manifest — a tombstone may still matter to an
    * unrewritten file, and dropping only the dead ones would cost the
    * same semi-join the next full compact() does anyway. Rewritten parts
    * carry the current max sequence in their name either way, so the
    * carried tombstones are no-ops against them. The default 0.0 is the
    * full compaction: every file with any doomed row rewrites and the
    * new manifest carries no batches.
    */
  /** Merge the live tombstone BATCHES into one, touching no data file —
    * the Iceberg "rewrite delete files" maintenance analog, for the
    * long-lived table whose batch count (and read-side fan-in) grows
    * with every DML. The merged batch holds one row per key at that
    * key's MAX row-level sequence — exactly the reduction every read's
    * anti-join performs ([[applyTombstones]] takes max(seq) per key), so
    * the resolved view is bit-identical by construction; per-row
    * sequences are PRESERVED (the batch directory's name carries the
    * current max only for listing order), so the strictly-smaller
    * file-sequence rule keeps superseding exactly as before. Commits
    * like every mutation: staged batch, one atomic manifest rename;
    * replaced batches are RETAINED for readers holding older manifests
    * until vacuum. No-op below two live batches. Returns the live batch
    * count after the merge.
    */
  def compactSidecar(spark: SparkSession, path: String): Long = withWriterLock(path) {
    ensureManaged(spark, path)
    val st = liveState(spark, path)
    if (st.batches.size <= 1) return st.batches.size.toLong
    val side = sidecarOf(spark, st.batches)
    val keyCols = side.columns.toSeq.filterNot(_ == SeqCol)
    // pin before writing: the reduction's lineage reads the batches the
    // new manifest is about to supersede
    val reduced = side.groupBy(keyCols.map(col): _*)
      .agg(max(col(SeqCol)).as(SeqCol))
      .localCheckpoint(true)
    try {
      val sideDir = Paths.get(sidecarDir(path))
      val stage = sideDir.resolve(s".stage-${UUID.randomUUID().toString.take(8)}")
      reduced.write.mode("overwrite").parquet(stage.toString)
      val top = st.batches.map(_._1).max
      val name = s"batch-$top-${UUID.randomUUID().toString.take(8)}"
      Files.move(stage, sideDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      publishManifest(path, maxSeq(spark, path),
        st.copy(batches = Seq(top -> new java.io.File(sideDir.toFile, name))))
      1L
    } finally { reduced.unpersist(); () }
  }

  def compact(spark: SparkSession, path: String,
      minDoomedFraction: Double = 0.0): CowDelete.DeleteStats = withWriterLock(path) {
    ensureManaged(spark, path)
    val st = liveState(spark, path)
    require(st.schemaLog.isEmpty,
      s"compact() rewrites files in place and the table at $path has pending " +
        "schema evolution (live files physically disagree with the logical " +
        "schema) — run Layout.rewriteFiles / OPTIMIZE to migrate the layout " +
        "(it folds the tombstones too), then compact() is legal again")
    if (st.batches.isEmpty)
      return CowDelete.DeleteStats(Nil, st.dataFiles.size.toLong, 0L)
    val keyCols = sidecarOf(spark, st.batches).columns.toSeq.filterNot(_ == SeqCol)
    // pin the keys first: the rewrite's lazy lineage must not re-read
    // the sidecar after the manifest drops it, and a checkpointed frame
    // fails loudly instead of silently recomputing from vacuumed files
    val tomb = sidecarOf(spark, st.batches)
      .groupBy(keyCols.map(col): _*)
      .agg(max(col(SeqCol)).as(SeqCol))
      .localCheckpoint(true)
    // rewritten survivors carry the CURRENT max sequence, so tombstones
    // carried by a partial compact (or read via an older manifest) never
    // re-delete them — upsert replacements folded into a rewrite would
    // otherwise drop back to sequence 0 under their own tombstones
    val seqNow = maxSeq(spark, path)
    try {
      def tombJoin(df: DataFrame, joinType: String): DataFrame = {
        val tagged = df.withColumn("__mor_fseq", fileSeq)
        tagged.join(tomb,
          keyCols.map(k => tagged(k) === tomb(k)).reduce(_ && _) &&
            col("__mor_fseq") < tomb(SeqCol),
          joinType).drop("__mor_fseq")
      }
      def doomed(df: DataFrame): DataFrame = tombJoin(df, "left_semi")
      def survivors(df: DataFrame): DataFrame = tombJoin(df, "left_anti")

      val fileFilter: Seq[String] => Seq[String] =
        if (minDoomedFraction <= 0.0) identity
        else { touchedAll =>
          // per-file doomed fraction: two counts projected to the
          // file-path metadata column, joined driver-side over the
          // touched set (bounded by file count, like every CowCore list)
          val table = spark.read.option("basePath", path).parquet(st.dataFiles: _*)
          val withFp = table.withColumn("__cow_fp", col("_metadata.file_path"))
          val doomedPer = doomed(withFp).groupBy(col("__cow_fp"))
            .agg(count(lit(1)).as("doomed")).collect()
            .map(r => CowCore.localPath(r.getString(0)) -> r.getLong(1)).toMap
          val totalPer = withFp.groupBy(col("__cow_fp"))
            .agg(count(lit(1)).as("total")).collect()
            .map(r => CowCore.localPath(r.getString(0)) -> r.getLong(1)).toMap
          touchedAll.filter { f =>
            val d = doomedPer.getOrElse(f, 0L).toDouble
            val t = totalPer.getOrElse(f, 1L).toDouble
            d / t >= minDoomedFraction
          }
        }

      val s = CowCore.rewrite(spark, path, doomed)(
        survivors, prefix = s"part-mor$seqNow-", fileFilter = fileFilter,
        liveFiles = Some(st.dataFiles), retainOriginals = true)
      val touchedSet = s.touched.toSet
      val newData = st.dataFiles.filterNot(touchedSet) ++ s.newFiles
      val newBatches = if (minDoomedFraction <= 0.0) Nil else st.batches
      // stats survive for untouched files; replacement files publish
      // WRITE-PATH stats in this same commit (on an analyzed table), so
      // a compaction no longer reopens the coverage window
      writeManifest(path, nextOrdinal(path), seqNow,
        st.copy(dataFiles = newData, batches = newBatches,
          stats = st.stats.filter { case (f, _) => !touchedSet(f) } ++
            Maintenance.writePathStats(spark, path, st, s.newFiles)))
      CowDelete.DeleteStats(s.touched, s.total, s.rewritten)
    } finally { tomb.unpersist(); () }
  }
}

/** Table maintenance beside the DML engines — the VACUUM every lakehouse
  * format ships, now with RETENTION: the manifest protocol never deletes
  * data eagerly (compaction retains replaced files, merge orphans its
  * staged parts on a crash, the failure path of every commit leaves
  * garbage rather than a half-visible state), so reclaiming disk is a
  * separate, explicitly-scheduled sweep — Iceberg's expire-snapshots +
  * remove-orphan-files pair in one pass:
  *
  *  - crashed stage directories (`<table>.cow_stage_*`, sidecar
  *    `.stage-*`, manifest `.tmp-*`) older than `stageGraceMs` — the
  *    grace period is what makes the sweep safe against a LIVE pure-CoW
  *    writer (CowDelete/CowUpdate/CowMerge run on unmanaged tables
  *    WITHOUT the MoR writer lock; deleting their in-flight stage
  *    between stage() and moveIn() would silently lose the rewrite);
  *  - manifests older than `retentionMs` (the newest always survives),
  *    expiring the snapshots [[MorDelete.readAt]] could pin there;
  *  - data files and tombstone batch directories referenced by NO
  *    surviving manifest (replaced-by-compaction files past retention,
  *    crashed commits' orphans).
  *
  * Takes the single-writer lock: a live MoR writer's not-yet-published
  * batch or parts must not be swept mid-commit.
  */
object Maintenance {

  /** @param dirsRemoved    stage + dead batch directories deleted
    * @param filesRemoved   dead data files + expired manifests deleted
    * @param bytesReclaimed bytes all of the above held
    */
  final case class VacuumStats(dirsRemoved: Long, filesRemoved: Long, bytesReclaimed: Long)

  /** @param sidecarMerged  whether the batch-merge step ran
    * @param compacted      whether the data-file compaction step ran
    * @param statsRefreshed whether the incremental stats re-analyze ran
    * @param vacuum         the vacuum step's reclaim stats
    */
  final case class MaintainStats(sidecarMerged: Boolean, compacted: Boolean,
    statsRefreshed: Boolean, vacuum: VacuumStats)

  /** The one-call maintenance policy — the scheduling loop a long-lived
    * merge-on-read table needs, with thresholds measured in the
    * SCALE_r15 rehearsals rather than guessed:
    *
    *  1. [[MorDelete.compactSidecar]] when live batches > `maxBatches`
    *     (default 8): the resolved-read fan-in is linear in batch count
    *     (the `sidecar` rehearsal's term), so the merge runs BEFORE it
    *     compounds — zero data files touched.
    *  2. [[MorDelete.compact]]`(minDoomedFraction)` when the tombstoned
    *     mass reaches `compactAt` of the table (default 20%): tombstone
    *     KEY rows over footer-derived table rows — an upper-bound proxy
    *     (a key may doom several rows), cheap because both sides are
    *     metadata reads, and biased toward compacting early rather than
    *     letting the anti-join side grow. The density threshold then
    *     scopes the rewrite to files worth rewriting (the `cowdml`
    *     rehearsal's 4-of-200 long-tail shape).
    *  3. [[analyze]] (incremental) when the table HAS published stats
    *     but some live file lacks them — COMPACTION replacements are
    *     stats-less until re-analyzed (merge appends publish write-path
    *     stats in their own commit since r16, see [[writePathStats]]),
    *     and because data files are immutable the refresh computes ONLY
    *     the missing files at the published column set. A table that
    *     never analyzed never pays this step (stats stay opt-in).
    *  4. [[vacuum]]`(retentionMs, stageGraceMs)` every call.
    *
    * Each step takes the writer lock through its own entry point, so a
    * concurrent writer still fails loudly. `morchurn` rehearses the same
    * loop spelled out; this is the packaged form.
    */
  def maintain(spark: SparkSession, path: String,
      maxBatches: Int = 8,
      compactAt: Double = 0.2,
      minDoomedFraction: Double = 0.3,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      stageGraceMs: Long = 3600L * 1000): MaintainStats = {
    val st = MorDelete.liveState(spark, path)
    val merged =
      if (st.batches.size > maxBatches) { MorDelete.compactSidecar(spark, path); true }
      else false
    val st2 = MorDelete.liveState(spark, path)
    val compacted =
      if (st2.batches.nonEmpty && st2.dataFiles.nonEmpty && st2.schemaLog.isEmpty) {
        // both counts are metadata-only: the sidecar is small, and a
        // parquet count() reads footers, never data pages
        val doomedKeys = spark.read
          .parquet(st2.batches.map(_._2.getAbsolutePath): _*)
          .count()
        val totalRows = spark.read.parquet(st2.dataFiles: _*).count()
        if (totalRows > 0 && doomedKeys.toDouble / totalRows >= compactAt) {
          MorDelete.compact(spark, path, minDoomedFraction)
          true
        } else false
      } else false
    val st3 = MorDelete.liveState(spark, path)
    // the opt-in signal is the manifest's recorded column set (it
    // survives a full rewrite that dropped every per-file stat);
    // pre-statCols manifests signal through the stats themselves
    // pending schema evolution suspends the compact + heal steps (both
    // need a uniform physical schema); a physical migration resumes them
    val refreshed =
      if (st3.schemaLog.isEmpty && (st3.statCols.nonEmpty || st3.stats.nonEmpty) &&
          st3.dataFiles.exists(f => !st3.stats.get(f).exists(_.nonEmpty)))
        analyze(spark, path) > 0
      else false
    MaintainStats(merged, compacted, refreshed,
      vacuum(path, retentionMs, stageGraceMs))
  }

  /** Publish PER-FILE min/max column statistics into the snapshot
    * manifest — the engine-side half of the reference's ANALYZE
    * (`presto-main`'s StatisticsWriter persists table stats a planner
    * consumes; here the stats feed [[MorDelete.readWhere]]'s driver-side
    * file pruning, the Iceberg manifest-evaluator analog). One
    * metadata-grouped aggregation pass over the live files computes
    * min/max per (file, column) for the requested NUMERIC columns
    * (default: every numeric column — the domain the z-order quantizers
    * cluster, so an analyzed z-ordered table prunes multi-column bands).
    * Commits like every mutation: the stats replace the previous
    * manifest's wholesale (ordinal +1, same sequence), and every later
    * DML carries them forward for the files it keeps; a merge/apply
    * commit publishes its appended parts' stats itself (write-path
    * stats), so only COMPACTION replacements wait (stats-less, never
    * pruned) for the next incremental pass — the exactly-conservative
    * staleness contract. Returns the number of files published with
    * stats.
    */
  /** Per-file column stats for `files` at `statCols` — the shared core
    * of [[analyze]] and the WRITE-PATH stats every manifest-managed
    * append publishes (a commit that appends files to an analyzed table
    * carries their stats in the SAME manifest, so the stats-less window
    * between an append and the next analyze does not exist). One
    * aggregation pass grouped by `_metadata.file_path`: per column
    * min/max (domain-encoded doubles; RAW for strings — UTF8String
    * binary order, the evaluator's order) + null count, plus the file's
    * row count; zero-row files backfill as rows=0 entries so coverage
    * accounting closes. The stats domain is doubles; DATE and TIMESTAMP
    * columns map to the encodings Catalyst's own literals carry (days /
    * µs since epoch) so the evaluator compares predicate literals
    * directly. */
  private[sources] def computeFileStats(spark: SparkSession, path: String,
      files: Seq[String], statCols: Seq[String]): Map[String, Seq[MorDelete.FileColStat]] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DataType, DateType, StringType, TimestampNTZType, TimestampType}
    val df = spark.read.option("basePath", path).parquet(files: _*)
    def dtypeOf(c: String): Option[DataType] =
      df.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
    def domain(c: Column, dt: DataType): Column = dt match {
      case DateType => unix_date(c).cast("double")
      case TimestampType => unix_micros(c).cast("double")
      case TimestampNTZType =>
        // an NTZ literal carries zone-FREE wallclock µs; the cast below
        // goes through the session zone, so only a UTC session computes
        // the identical domain — anything else must refuse rather than
        // publish zone-shifted bounds that would mis-prune forever
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          s"analyzing a timestamp_ntz column requires a UTC session time " +
            "zone (stats live in the literal's zone-free µs encoding)")
        unix_micros(c.cast("timestamp")).cast("double")
      case _ => c.cast("double")
    }
    def domainTag(dt: DataType): String = dt match {
      case DateType => "d"
      case TimestampType => "t"
      case TimestampNTZType => "u"
      case StringType => "s"
      case _ => "n"
    }
    // per column: min, max, null count; trailing: the file's row count
    // (one pass — the null/row counts are what IS [NOT] NULL pruning and
    // the all-null-column rule consume)
    val aggs = statCols.flatMap { c =>
      val mm = dtypeOf(c).get match {
        case StringType => Seq(min(col(c)), max(col(c)))
        case dt => Seq(min(domain(col(c), dt)), max(domain(col(c), dt)))
      }
      mm :+ count(when(col(c).isNull, 1))
    } :+ count(lit(1))
    val rows = df.groupBy(col("_metadata.file_path"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val fresh = rows.map { r =>
      val f = CowCore.localPath(r.getString(0))
      val total = r.getLong(1 + 3 * statCols.size)
      val cs = statCols.zipWithIndex.map { case (c, i) =>
        val nulls = r.getLong(3 + 3 * i)
        // an all-null (or empty) column publishes NaN bounds with its
        // null/row counts — range leaves skip NaN, the all-null rule and
        // the IS [NOT] NULL leaves prune off the counts
        if (r.isNullAt(1 + 3 * i) || r.isNullAt(2 + 3 * i))
          MorDelete.FileColStat(c, Double.NaN, Double.NaN,
            domainTag(dtypeOf(c).get), nulls, total)
        else dtypeOf(c).get match {
          case StringType =>
            // bounds past the 64-char cap publish TRUNCATED-CONSERVATIVE
            // (the Iceberg truncate(16) contract): the min truncates to a
            // prefix (a prefix sorts ≤ its extension, so it stays a lower
            // bound) and the max truncates then increments its last code
            // point (code-point order = UTF-8 binary order, so the bumped
            // prefix sorts above every extension of the original) — long
            // URL/UA-string columns prune instead of going dark. A max
            // whose retained code points are all U+10FFFF has no finite
            // bump and falls back to counts-only.
            val (lo, hi) = (r.getString(1 + 3 * i), r.getString(2 + 3 * i))
            val loB = if (lo.length <= 64) lo else MorDelete.truncCp(lo, 64)
            val hiB = if (hi.length <= 64) Some(hi)
              else MorDelete.truncatedUpperBound(hi, 64)
            hiB match {
              case Some(h) =>
                MorDelete.FileColStat(c, Double.NaN, Double.NaN, "s",
                  nulls, total, Some(loB), Some(h))
              case None =>
                MorDelete.FileColStat(c, Double.NaN, Double.NaN, "s", nulls, total)
            }
          case _ =>
            MorDelete.FileColStat(c, r.getDouble(1 + 3 * i), r.getDouble(2 + 3 * i),
              domainTag(dtypeOf(c).get), nulls, total)
        }
      }
      f -> cs
    }.toMap.filter(_._2.nonEmpty)
    // a ZERO-ROW data file yields no group above, so it would stay
    // stats-less forever — retriggering the incremental pass on every
    // maintenance sweep. Publish it as rows=0 (NaN bounds, nulls=0):
    // rows == nulls == 0 satisfies the all-null rule, so comparison
    // leaves prune it outright, and coverage accounting closes
    val empties = files.filterNot(fresh.contains).map { f =>
      f -> statCols.map(c => MorDelete.FileColStat(c, Double.NaN, Double.NaN,
        domainTag(dtypeOf(c).get), 0L, 0L))
    }.toMap
    fresh ++ empties
  }

  /** WRITE-PATH stats for a commit's appended parts: the table's
    * published column set, computed over ONLY the new files (cost ∝
    * batch size), merged into the committing manifest — Delta's
    * write-time stats discipline. Returns empty (commit proceeds
    * stats-less, exactly the pre-r16 behavior) when the table was never
    * analyzed, is mid-evolution, or the computation cannot run in this
    * session (e.g. an NTZ stat column off-UTC) — a write must never
    * fail because of statistics. Degrading must never be SILENT though:
    * a systematic failure (schema drift, a renamed stat column) would
    * quietly reopen the coverage invariant, so every swallowed failure
    * logs once per commit with the cause, bumps [[statsFailureCount]],
    * and the reopened window itself shows up as a non-zero
    * `stats_missing` in DESCRIBE HISTORY. */
  private[sources] def writePathStats(spark: SparkSession, path: String,
      st: MorDelete.State, newParts: Seq[String]): Map[String, Seq[MorDelete.FileColStat]] =
    if (newParts.isEmpty || st.statCols.isEmpty || st.schemaLog.nonEmpty) Map.empty
    else scala.util.Try(computeFileStats(spark, path, newParts, st.statCols))
      .recover { case e =>
        statsFailureCount.incrementAndGet()
        lastStatsFailure = Some(s"$path: ${e.getMessage}")
        log.warn(s"write-path stats failed for ${newParts.size} new file(s) at " +
          s"$path — commit proceeds stats-less (pruning coverage reopens until " +
          s"the next ANALYZE): ${e.getMessage}")
        Map.empty[String, Seq[MorDelete.FileColStat]]
      }.get

  /** Count of write-path stats computations that failed and were
    * degraded to a stats-less commit since JVM start — the cheap
    * process-level alarm for the coverage invariant. */
  val statsFailureCount = new java.util.concurrent.atomic.AtomicLong
  @volatile private[graft] var lastStatsFailure: Option[String] = None
  private val log = org.slf4j.LoggerFactory.getLogger("graft.sources.Maintenance")

  def analyze(spark: SparkSession, path: String,
      cols: Seq[String] = Nil): Long = MorDelete.withWriterLock(path) {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.NumericType
    MorDelete.ensureManaged(spark, path)
    val st = MorDelete.liveState(spark, path)
    require(st.dataFiles.nonEmpty, s"nothing to analyze: no live data files at $path")
    require(st.schemaLog.isEmpty,
      s"analyze reads live files under one physical schema and the table at $path " +
        "has pending schema evolution — run Layout.rewriteFiles / OPTIMIZE to " +
        "migrate the layout first")
    // data files are IMMUTABLE in this design (every mutation writes new
    // files), so a published stat is permanently exact — the pass is
    // INCREMENTAL by construction: only stats-less files compute, a
    // fully-covered table publishes nothing, and with no explicit column
    // list a covered table's own published column set carries forward.
    // A requested column set differing from the published one recomputes
    // everything (mixed per-file column sets would make coverage
    // reasoning ambiguous).
    // the published column set lives in the manifest itself (State
    // .statCols), so it survives even a full rewrite that dropped every
    // per-file stat; pre-statCols manifests fall back to any entry's set
    val publishedCols = (if (st.statCols.nonEmpty) Some(st.statCols.toSet) else None)
      .orElse(st.stats.values.headOption.map(_.map(_.col).toSet))
    val df0 = spark.read.option("basePath", path).parquet(st.dataFiles: _*)
    import org.apache.spark.sql.types.{DataType, DateType, StringType, TimestampNTZType, TimestampType}
    def dtypeOf(c: String): Option[DataType] =
      df0.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
    def supported(dt: DataType): Boolean =
      dt.isInstanceOf[NumericType] || dt == DateType ||
        dt == TimestampType || dt == TimestampNTZType || dt == StringType
    // the DEFAULT column set excludes NTZ columns off-UTC (analyzing them
    // there is impossible, see `domain` — a default must not make ANALYZE
    // refuse over a column nobody asked for); explicitly-requested NTZ
    // columns still hit the loud require
    val utc = spark.conf.get("spark.sql.session.timeZone") == "UTC"
    val eligible = df0.schema.fields
      .filter(f => supported(f.dataType) && (f.dataType != TimestampNTZType || utc))
      .map(_.name).toSeq
    val statCols =
      if (cols.nonEmpty) cols
      else publishedCols.map(p => eligible.filter(p.contains)).getOrElse(eligible)
    statCols.foreach { c =>
      require(dtypeOf(c).exists(supported),
        s"analyze supports numeric, date, timestamp, and string columns (the " +
          s"stats evaluator's domains); '$c' is ${dtypeOf(c)
            .map(_.simpleString).getOrElse("absent")}")
      require(!c.exists(ch => ch == ':' || ch == '\t' || ch == ','),
        s"analyzed column name must not contain ':', ',' or tab: $c")
    }
    val sameCols = publishedCols.forall(_ == statCols.toSet)
    val todo =
      if (sameCols) st.dataFiles.filterNot(f => st.stats.get(f).exists(_.nonEmpty))
      else st.dataFiles
    if (todo.isEmpty) return 0L
    val freshAll = computeFileStats(spark, path, todo, statCols)
    if (sameCols && freshAll.isEmpty && st.statCols.nonEmpty) return 0L
    val merged =
      (if (sameCols) st.stats else Map.empty[String, Seq[MorDelete.FileColStat]]) ++ freshAll
    MorDelete.publishManifest(path, MorDelete.maxSeq(spark, path),
      st.copy(stats = merged, statCols = statCols))
    freshAll.size.toLong
  }

  def vacuum(path: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      stageGraceMs: Long = 3600L * 1000): VacuumStats = MorDelete.withWriterLock(path) {
    val now = System.currentTimeMillis()
    val table = java.nio.file.Paths.get(path).toAbsolutePath
    val parent = Option(table.getParent).map(_.toFile)

    def newestMtime(f: java.io.File): Long =
      if (f.isDirectory)
        (f.lastModified() +: Option(f.listFiles()).getOrElse(Array.empty).map(newestMtime).toSeq).max
      else f.lastModified()
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(sizeOf).sum
      else f.length()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }

    // 1. crashed stages, behind the grace period (a live CoW writer's
    //    stage is hot — its newest mtime is seconds old)
    val cowStages = parent.flatMap(p => Option(p.listFiles())).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isDirectory &&
        f.getName.startsWith(table.getFileName.toString + ".cow_stage_"))
    val sidecarStages = {
      val d = new java.io.File(MorDelete.sidecarDir(path))
      if (!d.isDirectory) Nil
      else Option(d.listFiles()).getOrElse(Array.empty).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith(".stage-"))
    }
    val manifestStages = {
      val d = new java.io.File(MorDelete.manifestDir(path))
      if (!d.isDirectory) Nil
      else Option(d.listFiles()).getOrElse(Array.empty).toSeq
        .filter(f => f.getName.startsWith(".tmp-"))
    }
    val deadStages = (cowStages ++ sidecarStages ++ manifestStages)
      .filter(newestMtime(_) <= now - stageGraceMs)

    // 2. expired manifests: everything but the newest, past retention
    val ms = MorDelete.manifests(path)
    val expired = if (ms.isEmpty) Nil
      else ms.init.filter(_.file.lastModified() <= now - retentionMs)
    val survivors = ms.filterNot(expired.contains)

    // 3. data files / batch dirs / manifest shards referenced by NO
    //    surviving manifest — only meaningful on a managed table
    //    (unmanaged tables' directory listing IS the live set)
    val (deadFiles, deadBatches, deadShards) =
      if (survivors.isEmpty) (Nil, Nil, Nil)
      else {
        val statesAndShards = survivors.map(MorDelete.readManifestAndShards(path, _))
        val states = statesAndShards.map(_._1)
        val liveData = states.flatMap(_.dataFiles).toSet
        val liveBatch = states.flatMap(_.batches.map(_._2.getName)).toSet
        val liveShard = statesAndShards.flatMap(_._2).toSet
        val df = MorDelete.batches(path).map(_._2)
          .filterNot(b => liveBatch(b.getName))
        val dd = {
          def walk(f: java.io.File): Seq[java.io.File] =
            if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
            else Seq(f)
          walk(table.toFile).filter(f => f.getName.endsWith(".parquet") &&
            !liveData(f.getAbsolutePath))
        }
        val ds = Option(new java.io.File(MorDelete.manifestDir(path)).listFiles())
          .getOrElse(Array.empty).toSeq
          .filter(f => f.getName.startsWith("shard-") && !liveShard(f.getName))
        (dd, df, ds)
      }

    val doomedDirs = deadStages ++ deadBatches
    val doomedFiles = deadFiles ++ deadShards ++ expired.map(_.file)
    val bytes = doomedDirs.map(sizeOf).sum + doomedFiles.map(sizeOf).sum
    doomedDirs.foreach(rm)
    doomedFiles.foreach(f => { f.delete(); () })
    // sweep now-empty partition directories and an emptied sidecar dir so
    // a fully-vacuumed table is physically indistinguishable from a fresh
    // write (MorDeleteSpec pins this)
    def pruneEmpty(f: java.io.File): Unit = if (f.isDirectory) {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(pruneEmpty)
      if (Option(f.listFiles()).exists(_.isEmpty) && f != table.toFile) { f.delete(); () }
    }
    pruneEmpty(table.toFile)
    pruneEmpty(new java.io.File(MorDelete.sidecarDir(path)))
    VacuumStats(doomedDirs.size.toLong, doomedFiles.size.toLong, bytes)
  }
}

/** Merge-on-read MERGE: tombstone the target keys the source supersedes
  * and append replacement/insert rows as NEW part files at the same
  * sequence — zero existing files touched, the scattered-key answer to
  * [[CowMerge]] exactly as [[MorDelete]] is to [[CowDelete]]. Reads
  * resolve winners through the sequence rule: the appended rows carry the
  * tombstones' sequence in their file name, so they survive them while
  * every older copy of the key dies; a later operation gets a higher
  * sequence and supersedes them in turn.
  *
  * Clause surface ([[merge]]) — the ANSI MERGE shape over equality keys:
  *  - WHEN MATCHED [AND cond] THEN DELETE (`deleteWhen`): matched keys
  *    whose (target row, source row) pair passes the condition tombstone
  *    WITHOUT a re-append.
  *  - WHEN MATCHED [AND cond] THEN UPDATE (`updateWhen`): remaining
  *    matched keys passing the condition tombstone AND append a
  *    replacement. By default the replacement is the SOURCE row (upsert
  *    semantics); with `updateSet` it is the ANSI SET-assignment form —
  *    each matched TARGET row re-appends with the assignments applied
  *    (expressions see the target's columns by name and the source's
  *    through the `src_` prefix), so unassigned columns keep their
  *    target values and a duplicate-keyed target keeps one updated copy
  *    per row, exactly ANSI MERGE.
  *  - WHEN NOT MATCHED THEN INSERT (`insertUnmatched`): source rows whose
  *    key has no LIVE target row append as new files, no tombstone.
  * Conditions see the MoR-resolved target row's columns by name and the
  * source row's through a `src_` prefix ([[CowMerge]]'s convention).
  * Clause priority is delete-first (ANSI evaluates clauses in order): a
  * key whose duplicate target rows pass both conditions deletes.
  *
  * Equality contract: a source row supersedes ALL existing rows sharing
  * its key (the table may hold duplicates — same stance as
  * [[MorDelete.delete]]); "matched" is judged against the RESOLVED view,
  * so a key whose rows are all tombstoned counts as unmatched. The ANSI
  * cardinality rule applies to the SOURCE: it must be unique on the key
  * columns ([[CowMerge]]'s check).
  *
  * Commit discipline: all preconditions (key-set compatibility, source
  * cardinality) are checked BEFORE anything moves; replacement/insert
  * part files and the tombstone batch then stage invisibly, and the
  * manifest rename publishes both at once — a reader (or a crash)
  * between the stages sees the pre-merge state, never duplicates and
  * never lost rows; a crash leaves only unreferenced garbage for vacuum.
  */
object MorUpsert {

  final case class UpsertStats(keysTombstoned: Long, filesAppended: Long)

  /** @param keysDeleted  matched keys tombstoned by the delete clause
    * @param keysUpdated  matched keys tombstoned + replaced by the update clause
    * @param rowsInserted unmatched source rows appended
    * @param replaySkipped true when the `txn` marker proved this version
    *                      already applied — nothing ran, nothing committed
    */
  final case class MergeStats(
      keysDeleted: Long, keysUpdated: Long, rowsInserted: Long, filesAppended: Long,
      replaySkipped: Boolean = false)

  /** CHECK constraints gate a batch of to-be-appended rows BEFORE
    * anything stages: one combined pass over the (batch-sized) frame;
    * per-name attribution only on the failure path. SQL CHECK semantics
    * — a row violates only when the expression is FALSE, NULL passes. */
  private def enforceConstraints(st: MorDelete.State, batch: DataFrame): Unit =
    if (st.constraints.nonEmpty) {
      val anyBad = st.constraints
        .map(c => org.apache.spark.sql.functions.not(expr(c._2)))
        .reduce(_ || _)
      if (batch.filter(anyBad).limit(1).count() > 0) {
        val counts = st.constraints.map { case (nm, ex) =>
          nm -> batch.filter(org.apache.spark.sql.functions.not(expr(ex))).count()
        }.filter(_._2 > 0)
        throw new IllegalArgumentException(
          s"CHECK constraint(s) violated by the merge batch — nothing was " +
            s"committed: ${counts.map { case (nm, n) => s"$nm ($n rows)" }
              .mkString(", ")}")
      }
    }

  /** The unconditional upsert (replace every matched key, insert the
    * rest) — `merge` with no clause conditions. */
  def upsert(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String]): UpsertStats = {
    val m = merge(spark, path, source, keyCols)
    UpsertStats(m.keysUpdated, m.filesAppended)
  }

  /** @param keysUpserted keys whose final event replayed as a replacement/insert
    * @param keysDeleted  keys whose final event replayed as a delete
    * @param replaySkipped true when the `txn` marker proved this batch
    *                      already applied — nothing ran, nothing committed
    */
  final case class ApplyStats(keysUpserted: Long, keysDeleted: Long,
      replaySkipped: Boolean = false)

  /** Replay a CHANGE FEED onto a replica table — the downstream half of
    * [[MorDelete.readChanges]] (Delta's CDC-apply pattern): `changes`
    * carries the feed's `_change_type` / `_commit_version` columns, and
    * each key's FINAL event in the batch decides its replica state — the
    * post-image re-appends, a terminal delete tombstones. Intermediate
    * history collapses (a key updated five times lands once), so
    * replication cost ∝ CHANGED KEYS, never feed length or table size.
    * Keys must identify rows uniquely on BOTH sides for fidelity — the
    * CDC norm.
    *
    * The whole batch lands as ONE commit (one tombstone batch covering
    * upserted AND deleted keys at one sequence, the post-images appended
    * beside it, one atomic manifest rename) under one writer-lock hold —
    * a crash or a contending writer can never leave the replica between
    * a batch's upserts and its deletes. `txn` gives the sync loop
    * exactly-once semantics: pass (app, the feed's `to` version) and a
    * replayed batch is provably applied (same contract as
    * [[merge]]'s marker).
    */
  def applyChanges(spark: SparkSession, path: String, changes: DataFrame,
      keyCols: Seq[String],
      txn: Option[(String, Long)] = None): ApplyStats = MorDelete.withWriterLock(path) {
    import org.apache.spark.sql.expressions.Window
    MorDelete.ensureManaged(spark, path)
    val st = MorDelete.liveState(spark, path)
    txn.foreach { case (app, v) =>
      if (st.txns.get(app).exists(_ >= v))
        return ApplyStats(0L, 0L, replaySkipped = true)
    }
    val metaCols = Seq("_change_type", "_commit_version", "_commit_timestamp")
    require(changes.columns.contains("_change_type"),
      "applyChanges expects a change feed (readChanges or snapshotDiff " +
        "output) with a _change_type column")
    val dataCols = changes.columns.toSeq.filterNot(metaCols.contains)
    val tableCols = Evolution.tableColumns(spark, path, st)
    require(dataCols.toSet == tableCols.toSet,
      s"feed columns (${dataCols.sorted.mkString(", ")}) must match the " +
        s"replica's (${tableCols.sorted.mkString(", ")})")
    // every precondition fails BEFORE anything stages or moves (the
    // r14-advice ordering discipline)
    val existing = MorDelete.sidecarKeyCols(spark, path)
    existing.foreach { e =>
      require(e == keyCols,
        s"tombstone sidecar already keyed by (${e.mkString(", ")}); " +
          s"got (${keyCols.mkString(", ")}) — compact() before changing the key set")
    }
    // the key's final event: newest version wins; within one version the
    // insert (post-image) outranks the delete (pre-image of the same
    // update). A snapshotDiff feed has no versions — it is already net,
    // so insert-outranks-delete alone decides. Pin before mutating — the
    // feed's lineage may read the replica (self-application) or a table
    // a concurrent writer moves.
    val order =
      (if (changes.columns.contains("_commit_version"))
        Seq(col("_commit_version").desc) else Nil) :+
        when(col("_change_type") === "insert", 0).otherwise(1).asc
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val finals = changes
      .withColumn("__cdc_rn", row_number().over(w))
      .filter(col("__cdc_rn") === 1).drop("__cdc_rn")
      .localCheckpoint(true)
    try {
      val ups = finals.filter(col("_change_type") === "insert")
        .select(tableCols.map(col): _*)
      val dels = finals.filter(col("_change_type") === "delete")
        .select(keyCols.map(col): _*)
      enforceConstraints(st, ups)
      val (nUps, nDel) = (ups.count(), dels.count())
      if (nUps == 0 && nDel == 0 && txn.isEmpty) return ApplyStats(0L, 0L)
      val seq = MorDelete.maxSeq(spark, path) + 1
      // stage the post-images as sequence-named parts (they survive their
      // own tombstones under the strictly-smaller rule — merge's shape),
      // then the ONE tombstone batch covering both halves; both invisible
      // until the single manifest rename below
      val newParts =
        if (nUps == 0) Seq.empty[String]
        else {
          val base = Paths.get(path).toAbsolutePath
          // an EVOLVED table's footer-vs-schema compare would false-
          // positive on renamed columns, so mid-evolution the partition
          // columns derive from paths — post-images keep landing in
          // their col=value directories
          val partitionCols =
            if (st.dataFiles.isEmpty) Nil
            else if (st.schemaLog.nonEmpty)
              MorDelete.partitionColsFromPaths(path, st)
            else {
              val table = spark.read.option("basePath", path)
                .parquet(st.dataFiles: _*)
              table.select(col("_metadata.file_path")).limit(1).collect()
                .headOption.map(r => CowCore.localPath(r.getString(0)))
                .map(CowCore.partitionColsOf(spark, table, _)).getOrElse(Nil)
            }
          CowCore.moveIn(CowCore.stage(spark, base, partitionCols, ups),
            base, prefix = s"part-mor$seq-")
        }
      val allKeys = ups.select(keyCols.map(col): _*).unionByName(dels)
      val (nTomb, batchName) = MorDelete.appendTombstones(spark, path,
        allKeys, keyCols, seq, existing)
      if (nTomb > 0 || newParts.nonEmpty || txn.isDefined)
        MorDelete.publishManifest(path, seq, st.copy(
          dataFiles = st.dataFiles ++ newParts,
          batches = st.batches ++ batchName.map(n =>
            seq -> new java.io.File(MorDelete.sidecarDir(path), n)),
          stats = st.stats ++ Maintenance.writePathStats(spark, path, st, newParts),
          txns = st.txns ++ txn))
      ApplyStats(nUps, nDel)
    } finally { finals.unpersist(); () }
  }

  /** @param txn idempotent-commit marker (app id, version) — the Delta
    *   txn action: when the table's manifest already records a version
    *   ≥ this one for the app, the merge is a REPLAY (a restarted
    *   streaming query re-offering a committed micro-batch) and returns
    *   without reading or writing anything; otherwise the marker commits
    *   atomically WITH the merge's manifest, so the check and the data
    *   can never disagree. */
  def merge(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String],
      deleteWhen: Option[Column] = None,
      updateWhen: Option[Column] = None,
      insertUnmatched: Boolean = true,
      updateSet: Option[Seq[(String, Column)]] = None,
      txn: Option[(String, Long)] = None): MergeStats = MorDelete.withWriterLock(path) {
    MorDelete.ensureManaged(spark, path)
    val st = MorDelete.liveState(spark, path)
    txn.foreach { case (app, v) =>
      if (st.txns.get(app).exists(_ >= v))
        return MergeStats(0L, 0L, 0L, 0L, replaySkipped = true)
    }
    // an evolved table's live files may physically disagree with the
    // logical schema — every column-set decision runs on the LOGICAL one.
    // Build at most ONE raw relation (none at all when the schema is
    // declared in the manifest): relation construction lists files and
    // reads footers, the cost that dominates a small merge's driver side
    // at high file counts. The insert-only merge on a fully-emptied table
    // falls back to the retained files for schema (same rule as the
    // empty resolved view).
    val rawTable: Option[DataFrame] =
      if (st.schemaLog.nonEmpty) None
      else if (st.dataFiles.nonEmpty)
        Some(spark.read.option("basePath", path).parquet(st.dataFiles: _*))
      else Some(spark.read.option("basePath", path).parquet(path).where(lit(false)))
    val tableCols =
      if (st.schema.nonEmpty) st.schema.map(_._1)
      else rawTable.get.columns.toSeq
    require(source.columns.toSet == tableCols.toSet,
      s"source columns (${source.columns.sorted.mkString(", ")}) must match " +
        s"the table's (${tableCols.sorted.mkString(", ")})")
    require(keyCols.nonEmpty, "merge needs at least one key column")
    // every precondition fails BEFORE anything stages or moves (the
    // r14-advice ordering bug: a late key-set require after moveIn left
    // committed replacements with no tombstones — permanent duplicates)
    val existingKeys = MorDelete.sidecarKeyCols(spark, path)
    existingKeys.foreach { existing =>
      require(existing == keyCols,
        s"tombstone sidecar already keyed by (${existing.mkString(", ")}); " +
          s"got (${keyCols.mkString(", ")}) — compact() before changing the key set")
    }
    val src = source.select(tableCols.map(col): _*).localCheckpoint(true)
    val keyCs = keyCols.map(col)
    var pinned: List[DataFrame] = Nil
    def pin(df: DataFrame): DataFrame = {
      val p = df.localCheckpoint(true); pinned ::= p; p
    }
    try {
      require(src.groupBy(keyCs: _*).count()
        .where(col("count") > 1).isEmpty,
        "MERGE source must be unique on the key columns (ANSI cardinality rule)")
      // matched = against the RESOLVED view (live rows only; see scaladoc),
      // with source columns ridden in under src_ for the clause conditions
      val resolved = MorDelete.read(spark, path)
      val srcPref = src.select(keyCs ++ src.columns.toSeq.filterNot(keyCols.contains)
        .map(c => col(c).as(s"src_$c")): _*)
      val pairs = resolved.join(srcPref, keyCols)
      val allMatched = pairs.select(keyCs: _*).distinct()
      val delKeys = pin(deleteWhen
        .map(c => pairs.filter(c).select(keyCs: _*).distinct())
        .getOrElse(allMatched.limit(0)))
      val updKeys = pin(updateWhen
        .map(c => pairs.filter(c).select(keyCs: _*).distinct())
        .getOrElse(allMatched)
        .join(delKeys, keyCols, "left_anti"))
      val inserts = pin(
        if (insertUnmatched) src.join(resolved.select(keyCs: _*), keyCols, "left_anti")
        else src.limit(0))
      updateSet.foreach { sets =>
        val bad = sets.map(_._1).filter(keyCols.contains)
        require(bad.isEmpty,
          s"UPDATE SET cannot assign key column(s) ${bad.mkString(", ")} — key " +
            "identity is what links the replacement to the tombstone")
        require(sets.forall(s => tableCols.contains(s._1)),
          s"UPDATE SET targets unknown column(s): ${
            sets.map(_._1).filterNot(tableCols.contains).mkString(", ")}")
      }
      val (nDel, nUpd, nIns) = (delKeys.count(), updKeys.count(), inserts.count())

      val seq = MorDelete.maxSeq(spark, path) + 1
      // stage replacements + inserts as sequence-named part files and the
      // tombstone batch — all invisible until the manifest below names
      // them (see the commit-discipline scaladoc). Replacements: the raw
      // source row (upsert), or with `updateSet` the matched TARGET rows
      // with the assignments projected over the (target, src_) pair
      val replacements = updateSet match {
        case None => src.join(updKeys, keyCols, "left_semi")
        case Some(sets) =>
          val byName = sets.toMap
          pairs.join(updKeys, keyCols, "left_semi")
            .select(tableCols.map(c =>
              byName.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      }
      val appended = replacements.unionByName(inserts)
      if (nUpd + nIns > 0) enforceConstraints(st, appended)
      val newParts =
        if (nUpd + nIns == 0) Seq.empty[String]
        else {
          val base = Paths.get(path).toAbsolutePath
          // an evolved table (rawTable None — its epoch union has no
          // _metadata column to sample) derives partition columns from
          // paths, the rename-proof route; uniform tables keep the
          // footer-vs-schema compare
          val partitionCols = rawTable match {
            case None => MorDelete.partitionColsFromPaths(path, st)
            case Some(table) =>
              val sample = table.select(col("_metadata.file_path"))
                .limit(1).collect().headOption
                .map(r => CowCore.localPath(r.getString(0)))
              sample.map(CowCore.partitionColsOf(spark, table, _)).getOrElse(Nil)
          }
          val stage = CowCore.stage(spark, base, partitionCols, appended)
          CowCore.moveIn(stage, base, prefix = s"part-mor$seq-")
        }
      val (nTomb, batchName) = MorDelete.appendTombstones(spark, path,
        delKeys.unionByName(updKeys), keyCols, seq, existingKeys)
      // a txn marker commits even when the batch changed no rows: the
      // version must advance so a later replay of the same batch id is
      // provably a no-op rather than re-evaluated
      if (nTomb > 0 || newParts.nonEmpty || txn.isDefined) {
        val newBatches = st.batches ++
          batchName.map(n => seq -> new java.io.File(MorDelete.sidecarDir(path), n))
        MorDelete.publishManifest(path, seq,
          st.copy(dataFiles = st.dataFiles ++ newParts, batches = newBatches,
            stats = st.stats ++ Maintenance.writePathStats(spark, path, st, newParts),
            txns = st.txns ++ txn))
      }
      MergeStats(nDel, nUpd, nIns, newParts.size.toLong)
    } finally {
      src.unpersist()
      pinned.foreach(_.unpersist())
      ()
    }
  }
}
