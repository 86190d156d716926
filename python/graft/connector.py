"""Session factory — the reference connector.py analog: a SparkSession
wired with the graft jar, GraftExtensions (SQL-registered expressions +
the as-of join strategy), UTC session time, and tuned shuffle
parallelism."""
import glob
import os

from pyspark.sql import SparkSession


# graft.Sessions.engineConfs: a generated-class cache that holds graft's
# working set (Spark's default of 100 makes short lakehouse/curation calls
# recompile the same classes every round), one class per identical stage,
# one executor class loader for every session (cache() clones the
# session), and a smaller status store for the UI-less session. Static:
# read once per JVM or at session creation, so they only take effect
# when this builder creates the session (or via --conf /
# spark-defaults.conf). Each retained class costs ~30 KB of heap per JVM,
# plus metaspace.
ENGINE_CONFS = (
    ("spark.sql.codegen.cache.maxEntries", "2560"),
    ("spark.sql.codegen.useIdInClassName", "false"),
    ("spark.sql.artifact.isolation.enabled", "false"),
    ("spark.sql.ui.retainedExecutions", "50"),
    ("spark.ui.retainedJobs", "100"),
    ("spark.ui.retainedStages", "100"),
)


def find_jar(repo_root=None):
    """Locate the built graft jar: $GRAFT_JAR if set, else the newest
    jar under <repo_root>/target/scala-2.13 (run `sbt package` first)."""
    env = os.environ.get("GRAFT_JAR")
    if env:
        return env
    root = repo_root or os.getcwd()
    jars = sorted(glob.glob(os.path.join(root, "target", "scala-2.13", "*.jar")))
    if not jars:
        raise FileNotFoundError(
            "no graft jar under %s/target/scala-2.13 — run `sbt package` "
            "or set GRAFT_JAR" % root)
    return os.path.abspath(jars[-1])


def connect(app_name="graft", master="local[*]", jar=None,
            shuffle_partitions=8, conf=None, rest_catalogs=None,
            lineage=None, lineage_namespace=None):
    """Build (or reuse) a SparkSession with the graft library attached.

    conf: optional dict of extra Spark confs (e.g. a graft SQL catalog:
    {"spark.sql.catalog.g": "graft.sources.v2.GraftCatalog",
     "spark.sql.catalog.g.warehouse": "/data/warehouse"}).

    rest_catalogs: optional {name: uri} mapping wiring each name as a
    graft REST catalog client (the type=rest + uri session shape the
    reference uses for its Polaris endpoint):
    connect(rest_catalogs={"g": "http://catalog-host:8181"}).

    lineage: optional OpenLineage endpoint URL — the reference's
    `create_spark_session(enable_lineage=True)` flow (its connector.py
    wires spark.openlineage.transport.url + the OpenLineage listener):
    every executed query automatically POSTs a RunEvent with its
    input/output datasets, zero per-query code.
    """
    jar_path = jar or find_jar()
    b = (SparkSession.builder
         .master(master)
         .appName(app_name)
         .config("spark.jars", jar_path)
         # the jar must ALSO be on the driver's boot classpath: the
         # fork-free FS classes below resolve during SparkContext init,
         # before spark.jars attach
         .config("spark.driver.extraClassPath", jar_path)
         .config("spark.sql.extensions", "graft.GraftExtensions")
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         # fork-free local FS (graft.sources.NioLocalFS): without
         # libhadoop, stock Hadoop forks a chmod process per file
         # create — these overrides use java.nio, identical semantics
         .config("spark.hadoop.fs.file.impl",
                 "graft.sources.NioLocalFileSystem")
         .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
                 "graft.sources.NioLocalFs")
         .config("spark.sql.session.timeZone", "UTC"))
    for k, v in ENGINE_CONFS:
        b = b.config(k, v)
    for k, v in (conf or {}).items():
        b = b.config(k, v)
    for name, uri in (rest_catalogs or {}).items():
        b = (b.config("spark.sql.catalog.%s" % name,
                      "graft.sources.rest.GraftRestCatalog")
             .config("spark.sql.catalog.%s.type" % name, "rest")
             .config("spark.sql.catalog.%s.uri" % name, uri))
    spark = b.getOrCreate()
    if lineage:
        enable_lineage(spark, lineage, lineage_namespace)
    return spark


def enable_lineage(spark, endpoint, namespace=None):
    """Register automatic OpenLineage capture on an existing session:
    each query execution POSTs one RunEvent (run/job identity +
    input/output dataset facets) to `endpoint`, best-effort — a down
    backend never fails or slows a query. Returns nothing; call
    disable_lineage(spark) to stop, flush_lineage() in tests."""
    spark._jvm.graft.metrics.OpenLineageListener.enable(
        spark._jsparkSession, endpoint, namespace)


def disable_lineage(spark):
    spark._jvm.graft.metrics.OpenLineageListener.disable(spark._jsparkSession)


def flush_lineage(spark, timeout_ms=10000):
    """Wait until every captured event has been POSTed or dropped."""
    return spark._jvm.graft.metrics.OpenLineageListener.flushAll(timeout_ms)


def serve_catalog(spark, warehouse, port=0, credential=None):
    """Start a graft REST catalog service over `warehouse` in this
    session's JVM (the Polaris-analog endpoint other sessions point
    their `rest_catalogs=` wiring at). Returns (server, bound_port);
    call server.stop() to shut down. port=0 binds an ephemeral port.
    `credential="id:secret"` enables the OAuth2 client-credentials
    gate (clients pass the same string as their catalog credential)."""
    opt = spark._jvm.scala.Option
    cred = opt.empty() if credential is None else opt.apply(credential)
    # 5th arg: credentialVendor (None — vending needs a JVM-side
    # provider function; wire it from Scala when deploying vending)
    server = spark._jvm.graft.sources.rest.RestCatalogServer(
        spark._jsparkSession, warehouse, int(port), cred, opt.empty())
    return server, server.start()
