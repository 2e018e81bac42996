package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.ChartOps

class PodchartSourceSpec extends SparkSpec {

  private def fixtureDir: String = {
    val dir = tmpDir("podchart")
    val payload = resource("chart_us.json")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/chart_us_2024-10-22.json"), payload)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/chart_de_2024-10-22.json"), payload)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/ignore_me.txt"), "junk")
    dir
  }

  test("podchart DSv2 source yields one payload row per chart file") {
    val raw = spark.read.format("podchart").load(fixtureDir)
    assert(raw.columns.toSeq == Seq("date", "region", "payload"))
    val rows = raw.collect()
    assert(rows.length == 2) // junk file pruned by the source
    assert(rows.map(_.getString(1)).sorted.toSeq == Seq("de", "us"))
    assert(raw.rdd.getNumPartitions == 2) // one partition per "fetch"
  }

  test("missing or non-directory path fails fast, not empty-DataFrame") {
    val missing = intercept[Exception] {
      spark.read.format("podchart").load("/nonexistent/charts").collect()
    }
    assert(missing.getMessage.contains("does not exist"))
    val file = s"$fixtureDir/chart_us_2024-10-22.json"
    val notDir = intercept[Exception] {
      spark.read.format("podchart").load(file).collect()
    }
    assert(notDir.getMessage.contains("not a directory"))
  }

  test("composes with ChartOps.parsePayloads into the bronze table") {
    val chart = ChartOps.parsePayloads(
      spark.read.format("podchart").load(fixtureDir))
    assert(chart.count() == 6)
    assert(chart.filter(col("region") === "de" && col("rank") === 1)
      .select("episodeName").head().getString(0) == "Morning News Daily")
  }

  test("a session-level Hadoop setting reaches the executor-side read") {
    // the scheme resolves only through the session conf: with the FS
    // cache off, a read under any other conf finds no FileSystem for it
    val settings = Seq(
      "fs.pctest.impl" -> classOf[PctestFileSystem].getName,
      "fs.pctest.impl.disable.cache" -> "true")
    withConf(settings: _*) {
      val raw = spark.read.format("podchart").load(s"pctest://$fixtureDir")
      val rows = raw.collect()
      assert(rows.map(_.getString(1)).sorted.toSeq == Seq("de", "us"))
      assert(rows.forall(_.getString(2) == resource("chart_us.json")))
    }
  }

  test("the reader factory ships a broadcast handle, not a Hadoop conf") {
    val factory = new PodchartScanBuilder(fixtureDir,
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .createReaderFactory()
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(factory)
    out.close()
    // a serialized session Hadoop conf alone is over 100 KB
    assert(bytes.size < 4096, s"factory serializes to ${bytes.size} bytes")
  }
}

/** The local filesystem under a `pctest:` scheme. */
class PctestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("pctest:///")
  override def getScheme: String = "pctest"
}
