package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import graft.etl.{Assets, CubeBuilder, OpenApcModels}
import graft.registry.CubeRegistry
import graft.server.GraftServer

/** The single end-to-end OpenAPC entry point — the reference's
  * `update_olap.sh:12-16` pipeline (tables job → model job → yamls job →
  * serve) as one runnable main:
  *
  *   OpenApcMain <csvDir> <outDir> [port]
  *
  *  1. read the OpenAPC-shaped CSV directory (CubeBuilder.readInputs),
  *  2. build all eight static cubes + the institutional manifest,
  *  3. strict-mode validation: abort on institutions missing from the
  *     lookup (assets_generator.py:487-492),
  *  4. persist cubes as parquet + the manifest CSV (writeCubes),
  *  5. emit the deployable artifacts: model.json + per-institution
  *     treemap YAMLs (Assets),
  *  6. register every static cube (read back from the written parquet —
  *     queries run against the persisted layout, not the CSV lineage) and
  *     every institutional cube (filter view over its parent; the
  *     reference copies rows verbatim, assets_generator.py:696 — the view
  *     is semantically identical and costs nothing until queried),
  *  7. serve the HOWTO.md endpoint surface over HTTP.
  */
object OpenApcMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: OpenApcMain <csvDir> <outDir> [port]")
    val (csvDir, outDir) = (args(0), args(1))
    val port = args.lift(2).map(_.toInt).getOrElse(8080)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = launch(spark, csvDir, outDir, port)
    println(s"graft OpenAPC server listening on port ${server.boundPort} " +
      s"(cubes + artifacts under $outDir)")
    // the HttpServer's executor threads are non-daemon: the JVM serves
    // until interrupted
  }

  /** The served instance's physical layouts (CubeBuilder.writeCubes
    * scaladoc): every period-bearing cube partitions by `period` — the one
    * rangeable dim, so HOWTO.md:77-79 range cuts prune whole directories —
    * and `doi_lookup` gets the range-sorted layout on its factKey instead
    * (its workload is single-DOI point resolution, HOWTO.md:93-104; sorted
    * row groups make that sub-linear via min/max pruning, A2). This is the
    * engine's own Layout machinery applied to its flagship use case — the
    * reference serves the same lookups from unindexed heap tables
    * (assets_generator.py:241-249).
    */
  val servedPartitionCols: Map[String, Seq[String]] = Map(
    "openapc" -> Seq("period"), "openapc_ac" -> Seq("period"),
    "transformative_agreements" -> Seq("period"), "combined" -> Seq("period"),
    "bpc" -> Seq("period"), "deal" -> Seq("period"),
    "springer_compact_coverage" -> Seq("period"))

  val servedSortedCols: Map[String, Seq[String]] = Map(
    "doi_lookup" -> Seq("doi", "url"),
    // the treemap frontend pages publisher/journal MEMBERS of the apc
    // cubes (YAML drilldown config): within each period directory, files
    // range-split and sort on (publisher, journal) so member keyset pages
    // (`after=` pushes below the distinct, A23) prune row groups instead
    // of scanning the cube — combined with the period partitioning above
    // via Layout.writePartitionedSorted
    "openapc" -> Seq("publisher", "journal_full_title"),
    "combined" -> Seq("publisher", "journal_full_title"))

  /** Build → write → register → serve; returns the STARTED server (caller
    * stops it). Extracted from main so the e2e spec can drive the whole
    * pipeline against a fixture on an ephemeral port.
    */
  def launch(spark: SparkSession, csvDir: String, outDir: String,
      port: Int = 0): GraftServer = {
    val inputs = CubeBuilder.readInputs(spark, csvDir)
    val outputs = CubeBuilder.build(inputs)

    // strict mode: the reference aborts the whole run on institutions
    // missing from the lookup table (assets_generator.py:487-492)
    val unknown = outputs.unknownInstitutions.collect().map(_.getString(0))
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"institutions missing from institutions.csv: ${unknown.mkString(", ")}")

    CubeBuilder.writeCubes(outputs, s"$outDir/cubes",
      partitionCols = servedPartitionCols, sortedCols = servedSortedCols)
    val manifest = Assets.manifestEntries(outputs.institutionalManifest)
    Assets.writeModelJson(manifest, outDir)
    Assets.writeYamls(manifest,
      Assets.institutionInfo(inputs.institutions), s"$outDir/yamls")

    val registry = new CubeRegistry
    // the workspace info blob (slicer.ini:11 info_file: info.json) ships
    // beside the CSV inputs; when present it is served verbatim at /info
    val infoPath = java.nio.file.Paths.get(csvDir, "info.json")
    if (java.nio.file.Files.exists(infoPath))
      registry.setInfo(java.nio.file.Files.readString(infoPath))
    registerAll(spark, registry, s"$outDir/cubes", manifest)
    val server = new GraftServer(registry, port)
    server.start()
    server
  }

  /** Read one written cube back with its SERVED schema: partition-column
    * type inference turns the string-year `period=2019` directory names
    * into ints, which would silently change the cube's schema between
    * build and serve (string-year range-cut semantics, facts JSON types,
    * e2e goldens). Overriding the inferred schema pins `period` back to
    * string — partition pruning still applies, the directory values are
    * just kept as the strings they were written from.
    */
  def readCube(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    val raw = spark.read.parquet(path)
    val fixed = org.apache.spark.sql.types.StructType(raw.schema.map(f =>
      if (f.name == "period" &&
          f.dataType != org.apache.spark.sql.types.StringType)
        f.copy(dataType = org.apache.spark.sql.types.StringType)
      else f))
    val df = if (fixed == raw.schema) raw else spark.read.schema(fixed).parquet(path)
    // incremental refresh (streaming.OpenApcRefresh) tags rows with a
    // replay-guard batch id; the SERVED schema stays the reference schema
    if (df.columns.contains(graft.streaming.OpenApcRefresh.batchCol))
      df.drop(graft.streaming.OpenApcRefresh.batchCol)
    else df
  }

  /** Register the static cubes from their written parquet plus one filter
    * view per institutional-manifest row.
    *
    * `cache = true` (the default, SURVEY §4's caching row) marks every
    * static cube's frame for Spark caching: the data is rebuild-only, so
    * the first request per cube materializes the InMemoryRelation and
    * every later request is served from memory; invalidation is the
    * [[reload]] hook on redeploy. Institutional views are NOT cached
    * separately — they are filters over the cached parent plan, so the
    * CacheManager substitutes the parent's InMemoryRelation into their
    * plans for free (hundreds of per-institution copies would otherwise
    * each materialize). At 100 TB the cache does not fit and this flag
    * stays false — the partition/sorted disk layouts above are the scale
    * path; caching is the small-hot-cube serving optimization.
    */
  def registerAll(spark: SparkSession, registry: CubeRegistry,
      cubesDir: String, manifest: Seq[graft.etl.ManifestEntry],
      cache: Boolean = true): Unit = {
    val static = OpenApcModels.staticModels.map { m =>
      m.name -> readCube(spark, s"$cubesDir/${m.name}.parquet")
    }.toMap
    OpenApcModels.staticModels.foreach(m =>
      registry.register(m, static(m.name), cache = cache))
    manifest.foreach { e =>
      val parent = static(OpenApcModels.parentCube(e.cubeType))
      registry.register(
        OpenApcModels.institutionalModel(e.cubeType, e.cubeName, e.fullName),
        parent.filter(col("institution") === lit(e.institution)))
    }
  }

  /** Rebuild-redeploy reload (update_olap.sh:12-16 parity without a server
    * restart): drop + unpersist every registration, invalidate Spark's
    * cached file listings/plans for the rewritten parquet, and re-register
    * fresh reads. The swap is NOT atomic: `unregisterAll()` empties the
    * registry before `registerAll` puts the fresh reads back, so a request
    * that lands in between gets `404 no such cube`. Each registration on
    * its own is atomic (TrieMap put), so a request that finds its cube
    * sees either the old or the new entry, never a mix of the two.
    */
  def reload(spark: SparkSession, registry: CubeRegistry, cubesDir: String,
      manifest: Seq[graft.etl.ManifestEntry], cache: Boolean = true): Unit = {
    registry.unregisterAll()
    spark.catalog.refreshByPath(cubesDir)
    registerAll(spark, registry, cubesDir, manifest, cache)
  }
}
