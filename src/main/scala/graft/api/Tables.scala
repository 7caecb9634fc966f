package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-maintenance primitives for snapshot-style datalake tables. */
object Tables {

  private val artifactLock = new Object

  private def saveParquet(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").format("parquet").saveAsTable(table)

  /** The session-artifact gate — the one read-or-derive path for every
    * catalog table the engine writes: if `table` is absent from the session
    * catalog, the warehouse directory a dead catalog may have left under its
    * name is cleared, `derive` is written with `write` (plain parquet
    * `saveAsTable` by default; bucketed edge lists pass
    * [[Graph.writeEdges]]), and the READ-BACK table is returned either way.
    *
    *  - Identity: the name determines the derivation AND its source data —
    *    [[artifactName]] embeds the family (with any non-default
    *    parameters) and the fixture dir's [[dirTag]]. The gate trusts the
    *    catalog; it cannot see a stale artifact under an unchanged name.
    *  - Lifetime: the session catalog's. A fresh JVM re-derives on first
    *    touch, so regenerated source data is never read through an old
    *    artifact.
    *  - One lock: every exists-check + write, every drop and every
    *    [[rederive]] holds it, so racing first callers derive once. It is
    *    reentrant: a derive may pass through the gate for its own inputs.
    *  - Dead directories: the in-memory catalog dies with its JVM but the
    *    table directories stay, and a fresh `saveAsTable` CREATE fails on a
    *    non-empty location — see [[clearDeadWarehouseDir]].
    */
  def tableOrDerive(spark: SparkSession, table: String,
      write: (DataFrame, String) => Unit = saveParquet)
      (derive: => DataFrame): DataFrame = artifactLock.synchronized {
    if (!spark.catalog.tableExists(table)) {
      clearDeadWarehouseDir(spark, table)
      write(derive, table)
    }
    spark.table(table)
  }

  /** Drops `tables` and runs `body` under the gate's lock — the path for
    * keys that price an artifact's construction on every build: `body`
    * re-derives the dropped tables through [[tableOrDerive]], atomically
    * against racing first callers.
    */
  private[graft] def rederive[T](spark: SparkSession, tables: String*)
      (body: => T): T = artifactLock.synchronized {
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    body
  }

  /** Deletes the warehouse directory of a table the CURRENT catalog does
    * not know — the leftover of a previous JVM's dead catalog. Spark stores
    * a table's directory under its lowercased name. No-op when the
    * directory is absent; never call it for a table the catalog still
    * tracks (drop that through SQL).
    */
  private[graft] def clearDeadWarehouseDir(spark: SparkSession,
      table: String): Unit = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = java.nio.file.Paths.get(wh, table.toLowerCase)
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Canonical fixture-dir tag every artifact name embeds: the sanitized,
    * lowercased dir + "_h" + the first 8 hex of SHA-256 over the RAW dir
    * string. The hash keeps two distinct dir strings from sharing a tag
    * suffix (sanitizing alone maps "/data/sf1" onto a suffix of
    * "/srv/data/sf1"), so [[listArtifacts]] / [[dropArtifacts]] scope
    * exactly one dir; the sanitized prefix keeps catalog listings
    * readable. Callers pass the same dir strings the derivations used —
    * "/x" and "/x/" are distinct artifact families.
    */
  def dirTag(dir: String): String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase + "_h" + h
  }

  private val ArtifactPrefix = "graft_"

  /** The one naming rule for every catalog table the engine writes:
    * `graft_<family>_<dirTag(dir)>`, `family` naming the derivation and its
    * non-default parameters.
    */
  private[graft] def artifactName(family: String, dir: String): String =
    s"$ArtifactPrefix${family}_${dirTag(dir)}"

  /** Enumerates the session catalog's derived artifacts — every table whose
    * name carries the engine's artifact prefix, optionally restricted to one
    * fixture directory's tag ([[dirTag]]). This is the admin view a
    * long-lived session uses to audit artifact growth: a PARAMETER change
    * derives a fresh table under a new parameter-embedding name (the
    * identity contract), so the superseded sibling stays in the catalog
    * until swept — enumerable here, dropped by [[dropArtifacts]]. Sorted
    * for stable output.
    */
  def listArtifacts(spark: SparkSession,
      dir: Option[String] = None): Seq[String] =
    artifactLock.synchronized {
      val tagSuffix = dir.map(dirTag)
      spark.catalog.listTables().collect().toSeq
        .map(_.name)
        .filter(_.startsWith(ArtifactPrefix))
        // anchored at the family delimiter on top of the tag's own hash
        .filter(n => tagSuffix.forall(t => n.endsWith("_" + t)))
        .sorted
    }

  /** Drops every [[listArtifacts]] table (optionally dir-scoped) from the
    * session catalog AND storage, returning the dropped names — the GC half
    * of the artifact lifecycle: safe because every artifact is a derived
    * cache (the next consumer's [[tableOrDerive]] re-derives on first
    * touch), so the only cost of an over-eager sweep is re-derivation.
    */
  def dropArtifacts(spark: SparkSession,
      dir: Option[String] = None): Seq[String] =
    artifactLock.synchronized {
      val doomed = listArtifacts(spark, dir)
      rederive(spark, doomed: _*)(doomed)
    }

  /** Keyed upsert (MERGE): rows of `updates` replace same-keyed rows of
    * `base`; unmatched update rows insert. Both frames must share a schema;
    * `keys` are the merge columns. One left-anti shuffle join plus a union —
    * both sides hash-partition on the key, nothing driver-side, so the
    * shape is the same at 10⁶ or 10¹² rows.
    *
    * PRECONDITIONS the caller owns (checking them would force an eager job
    * on every lazy build): `updates` must carry at most ONE row per key —
    * duplicate-keyed update rows all land in the result (pre-aggregate the
    * change batch, e.g. keep the latest by version, before merging); and
    * key columns must be non-null — SQL null-equality means a null-keyed
    * base row is never anti-joined away, so a null-keyed update INSERTS
    * alongside it rather than replacing it.
    *
    * Idempotent for a fixed conforming change batch:
    * `upsert(upsert(b, u), u)` equals `upsert(b, u)` (the anti-join removes
    * exactly the keys the union re-adds).
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    base
      .join(updates.select(keys.map(org.apache.spark.sql.functions.col): _*),
        keys, "left_anti")
      .unionByName(updates)

  /** Small-file compaction — the datalake maintenance job that rewrites a
    * directory of too-many-small parquet files into ~`targetRowsPerFile`
    * files. Streaming ingest and over-parallel writers leave thousands of
    * KB-scale files per partition; at 100 TB that's metadata pressure on
    * the catalog and a task-per-file scan explosion, so periodic
    * compaction is a first-class production operator.
    *
    * Shape: ONE distributed read of the input directory, a
    * `repartition(ceil(n/target))` round-robin shuffle that balances rows
    * evenly across exactly the output file count (coalesce would skip the
    * shuffle but inherits the input's skew — a 10 GB file next to 10 KB
    * files defeats the point), and one write. Row count comes from parquet
    * FOOTER METADATA (a metadata-only count job — no column data read),
    * not a full scan. Content is bit-identical row-for-row: compaction
    * reorders files, never values.
    *
    * Returns the compacted-directory frame. File-count expectations are
    * asserted by ApiSpec; content preservation is the oracled gate
    * (`src_compaction`).
    */
  def compactFiles(spark: SparkSession, inDir: String,
      outDir: String, targetRowsPerFile: Long): DataFrame = {
    val in = spark.read.parquet(inDir)
    val n = in.count() // parquet metadata-only
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile)
    in.repartition(files.toInt)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRowsPerFile)
      .parquet(outDir)
    spark.read.parquet(outDir)
  }
}
