package graft.storage

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Ports of test/storage/test_isolation_providers.py. */
class IsolationProvidersSpec extends AnyFunSuite with SparkSpec {

  test("getSparkConfig: session conf found, default honoured, missing throws") {
    spark.conf.set("io.jorvik.test.key", "from-session")
    try
      assert(IsolationProviders.getSparkConfig(spark, "io.jorvik.test.key") == "from-session")
    finally spark.conf.unset("io.jorvik.test.key")
    assert(IsolationProviders.getSparkConfig(spark, "io.jorvik.absent", Some("dflt")) == "dflt")
    intercept[IllegalArgumentException] {
      IsolationProviders.getSparkConfig(spark, "io.jorvik.absent")
    }
  }

  test("NO_ISOLATION returns empty context") {
    assert(IsolationProviders.noIsolation() == "")
  }

  test("SPARK_CONFIG provider reads io.jorvik.storage.isolation_context") {
    spark.conf.set("io.jorvik.storage.isolation_context", "ctx-1")
    try assert(IsolationProviders.sparkConfig(spark)() == "ctx-1")
    finally spark.conf.unset("io.jorvik.storage.isolation_context")
  }

  test("ENVIRONMENT_VARIABLE provider fails clearly when unset") {
    if (!sys.env.contains(IsolationProviders.EnvVar)) {
      val e = intercept[IllegalArgumentException] {
        IsolationProviders.environmentVariable()
      }
      assert(e.getMessage.contains("JORVIK_ISOLATION_CONTEXT"))
    }
  }

  test("GIT_BRANCH provider returns this repo's branch") {
    // in a checkout the provider agrees with git itself; in an export
    // without a `.git` directory (a `git archive` tree) it refuses
    // with the documented error
    val cwd = new java.io.File(sys.props("user.dir")).getAbsoluteFile
    val inCheckout = Iterator.iterate(cwd)(_.getParentFile)
      .takeWhile(_ != null).exists(d => new java.io.File(d, ".git").exists)
    if (inCheckout)
      assert(IsolationProviders.gitBranch() == scala.sys.process
        .Process(Seq("git", "branch", "--show-current")).!!.trim)
    else {
      val e = intercept[IllegalStateException](IsolationProviders.gitBranch())
      assert(e.getMessage.startsWith("Not in a Git repository"))
    }
  }

  test("context validation rejects path-like names") {
    IsolationProviders.validateIsolationContext("ok-name")
    intercept[IllegalArgumentException] {
      IsolationProviders.validateIsolationContext("bad/name")
    }
    intercept[IllegalArgumentException] {
      IsolationProviders.validateIsolationContext("")
    }
  }

  test("provider resolution: default NO_ISOLATION, unknown name throws") {
    assert(IsolationProviders.getIsolationProvider(spark)() == "")
    spark.conf.set("io.jorvik.storage.isolation_provider", "NOT_A_PROVIDER")
    try intercept[IllegalArgumentException] {
      IsolationProviders.getIsolationProvider(spark)
    } finally spark.conf.unset("io.jorvik.storage.isolation_provider")
  }

  test("provider resolution via SPARK_CONFIG validates and returns context") {
    spark.conf.set("io.jorvik.storage.isolation_provider", "SPARK_CONFIG")
    spark.conf.set("io.jorvik.storage.isolation_context", "feature-y")
    try assert(IsolationProviders.getIsolationProvider(spark)() == "feature-y")
    finally {
      spark.conf.unset("io.jorvik.storage.isolation_provider")
      spark.conf.unset("io.jorvik.storage.isolation_context")
    }
  }

  test("DATABRICKS providers are informative stubs naming the alternatives") {
    spark.conf.set("io.jorvik.storage.isolation_provider", "DATABRICKS_USER")
    try {
      val e = intercept[UnsupportedOperationException] {
        IsolationProviders.getIsolationProvider(spark)
      }
      // actionable fallback UX: the error must say which provider it
      // was AND name every runtime-independent alternative with its
      // configuration source
      assert(e.getMessage.startsWith(
        "DATABRICKS_USER requires a Databricks runtime"))
      assert(e.getMessage.contains("GIT_BRANCH"))
      assert(e.getMessage.contains(
        "ENVIRONMENT_VARIABLE (reads JORVIK_ISOLATION_CONTEXT)"))
      assert(e.getMessage.contains(
        "SPARK_CONFIG (reads io.jorvik.storage.isolation_context)"))
    } finally spark.conf.unset("io.jorvik.storage.isolation_provider")
  }
}
