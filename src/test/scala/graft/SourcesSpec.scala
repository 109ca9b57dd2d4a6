package graft

import java.nio.file.{Files, Path}
import graft.sources.{JsonLines, PathKeys, TsvSource}
import org.apache.spark.sql.functions._

/**
 * Mirrors the reference's ingestion contract
 * (reference: v2f/src/test/scala/.../V2FUtilsSpec.scala and
 * common/src/test/scala/.../MsgIOSpec.scala) over Spark sources.
 */
class SourcesSpec extends SparkSpec {

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def writeFile(dir: Path, name: String, content: String): Path = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    p
  }

  test("TSV rows become records keyed by header") {
    val d = tmpDir("tsv")
    writeFile(d, "a.tsv", "key1\tkey2\tkey3\nv11\tv21\tv31\nv12\tv22\tv32\n")
    val df = TsvSource.read(spark, d.toString + "/a.tsv")
    assert(df.columns.toSeq == Seq("key1", "key2", "key3", "source_file"))
    val rows = df.orderBy("key1").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("v11", "v12"))
    assert(rows.head.getString(3).endsWith("a.tsv"))
  }

  test("empty-string and whitespace cells become NULL (missing)") {
    val d = tmpDir("tsv")
    writeFile(d, "m.tsv", "key1\tkey2\tkey3\nv11\t\tv31\nv12\t \t v32 \n")
    val df = TsvSource.read(spark, d.toString + "/m.tsv", withPath = false)
    val rows = df.orderBy("key1").collect()
    assert(rows(0).isNullAt(1) && rows(1).isNullAt(1))
    // cells are trimmed
    assert(rows(1).getString(2) == "v32")
  }

  test("files with different column ORDERS read correctly (per-file headers)") {
    // reference: V2FUtilsSpec "convert multiple TSVs correctly even if the
    // columns are different" — each file is parsed against its OWN header
    val d = tmpDir("tsv-order")
    writeFile(d, "a.tsv", "k1\tk2\nA1\tA2\n")
    writeFile(d, "b.tsv", "k2\tk1\nB2\tB1\n")
    val rows = TsvSource.read(spark, d.toString + "/*.tsv", withPath = false)
      .orderBy("k1").collect()
    assert(rows.map(r => (r.getAs[String]("k1"), r.getAs[String]("k2"))).toSeq ==
      Seq(("A1", "A2"), ("B1", "B2")))
  }

  test("files with different column SETS union by name, absent cells NULL") {
    val d = tmpDir("tsv-cols")
    writeFile(d, "a.tsv", "k1\tk2\nA1\tA2\n")
    writeFile(d, "c.tsv", "k1\tk3\nC1\tC3\n")
    writeFile(d, "empty.tsv", "")
    val df = TsvSource.read(spark, d.toString + "/*.tsv", withPath = false)
    assert(df.columns.toSet == Set("k1", "k2", "k3"))
    val rows = df.orderBy("k1").collect()
    assert(rows(0).getAs[String]("k2") == "A2" &&
      rows(0).isNullAt(rows(0).fieldIndex("k3")))
    assert(rows(1).getAs[String]("k3") == "C3" &&
      rows(1).isNullAt(rows(1).fieldIndex("k2")))
  }

  test("large file sets probe headers via a distributed job, orders intact") {
    // 600 files > the distributed-probe threshold; alternating column order
    val d = tmpDir("tsv-many")
    (0 until 600).foreach { i =>
      val content =
        if (i % 2 == 0) s"k1\tk2\na$i\tb$i\n" else s"k2\tk1\nb$i\ta$i\n"
      writeFile(d, f"f$i%04d.tsv", content)
    }
    val df = TsvSource.read(spark, d.toString + "/*.tsv", withPath = false)
    assert(df.columns.toSet == Set("k1", "k2"))
    assert(df.count() == 600)
    assert(df.filter(!col("k1").startsWith("a") || !col("k2").startsWith("b")).count() == 0)
  }

  test("recursive read prunes hidden directories (_temporary from crashed jobs)") {
    val d = tmpDir("tsv-hidden")
    writeFile(d, "t/good.tsv", "k\tv\na\t1\n")
    writeFile(d, "t/_temporary/0/part-00000.tsv", "k\tv\nSTALE\t9\n")
    writeFile(d, "t/.staging/part-00001.tsv", "k\tv\nSTALE\t9\n")
    val rows = TsvSource.read(spark, d.toString + "/t", recursive = true,
        withPath = false)
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("a"))
  }

  test("a leading blank line before the header is skipped, like the csv parser") {
    val d = tmpDir("tsv-blank")
    writeFile(d, "b.tsv", "\nk1\tk2\nv1\tv2\n")
    val df = TsvSource.read(spark, d.toString + "/b.tsv", withPath = false)
    assert(df.columns.toSeq == Seq("k1", "k2"))
    assert(df.head.getString(0) == "v1")
  }

  test("glob matching nothing returns empty (wildcard-tolerant)") {
    val d = tmpDir("tsv-empty")
    val df = TsvSource.readGlob(spark, d.toString + "/nope-*.tsv")
    assert(df.count() == 0)
  }

  test("readGlob: globs with no readable file run no failing query") {
    val failures = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = ()
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        failures.incrementAndGet()
    }
    val d = tmpDir("tsv-unreadable")
    writeFile(d, "zero/a.tsv", "")
    writeFile(d, "hidden/_a.tsv", "k\nv\n")
    Files.createDirectories(d.resolve("nothing"))
    assert(org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark, 10000))
    spark.listenerManager.register(listener)
    try {
      val globs = Seq(
        TsvSource.readGlob(spark, s"$d/nope-*.tsv"), // matches nothing
        TsvSource.readGlob(spark, s"$d/zero/*.tsv"), // only zero-byte files
        TsvSource.readGlob(spark, s"$d/hidden/*.tsv"), // only hidden files
        TsvSource.readGlob(spark, s"$d/noth*", recursive = true), // an empty dir
        TsvSource.readGlob(spark, s"$d/zero", globFilter = Some("*.tsv")))
      globs.foreach(df => assert(df.columns.isEmpty && df.count() == 0))
      assert(org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark, 10000))
      assert(failures.get == 0, "a readGlob of an unreadable glob ran a failing query")
    } finally spark.listenerManager.unregister(listener)
  }

  test("non-glob missing path still errors") {
    assertThrows[Exception] {
      TsvSource.readGlob(spark, "/definitely/not/here.tsv").collect()
    }
  }

  test("multiple TSVs with glob read distributed, path column distinguishes them") {
    val d = tmpDir("tsv-multi")
    writeFile(d, "one.tsv", "k\tv\na\t1\n")
    writeFile(d, "two.tsv", "k\tv\nb\t2\n")
    val df = TsvSource.read(spark, d.toString + "/*.tsv")
    assert(df.count() == 2)
    assert(df.select("source_file").distinct().count() == 2)
  }

  test("a dotted header cell (p.value) reads back trimmed, empty cells NULL") {
    val d = tmpDir("tsv-dotted")
    writeFile(d, "gwas.tsv", "p.value\tname\n 0.01 \ta\n\t b \n")
    val df = TsvSource.read(spark, d.toString + "/gwas.tsv", withPath = false)
    assert(df.columns.toSeq == Seq("p.value", "name"))
    val rows = df.orderBy("name").collect()
    assert(rows.map(r => (Option(r.getString(0)), r.getString(1))).toSeq ==
      Seq((Some("0.01"), "a"), (None, "b")))
  }

  test("the header-derived scan schema equals Spark's csv inference") {
    val d = tmpDir("tsv-schema")
    val headers = Seq(
      "dup" -> "a\tb\ta",
      "case-dup" -> "Name\tname\tx",
      "empty-cell" -> "a\t\tc",
      "quoted" -> "\"q,1\"\t\"b\"\tc",
      "trailing-tab" -> "a\tb\t")
    headers.foreach { case (name, header) =>
      val f = writeFile(d, s"$name.tsv", s"$header\n1\t2\t3\n").toString
      val inferred = spark.read.option("header", "true").option("sep", "\t").csv(f).schema
      val got = TsvSource.read(spark, f).drop(TsvSource.PathCol).schema
      assert(got == inferred, s"$name: $header")
    }
  }

  test("read over two header groups submits no Spark job before an action") {
    val d = tmpDir("tsv-nojobs")
    writeFile(d, "a.tsv", "k1\tk2\nA1\tA2\n")
    writeFile(d, "b.tsv", "k2\tk1\nB2\tB1\n")
    val (df, jobs) = jobsDuring(TsvSource.read(spark, d.toString + "/*.tsv"))
    assert(jobs.isEmpty, s"${jobs.size} job(s) submitted while building the frame")
    assert(df.count() == 2)
  }

  test("ancestry ID extracted from ancestry=<id> path segment") {
    val d = tmpDir("tsv-anc")
    writeFile(d, "ancestry=EU/f.tsv", "k\tv\na\t1\n")
    writeFile(d, "ancestry=AA/f.tsv", "k\tv\nb\t2\n")
    val df = PathKeys.withAncestryId()(
      TsvSource.read(spark, d.toString + "/ancestry=*/f.tsv"))
    val got = df.select("k", "ancestry").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "EU", "b" -> "AA"))
  }

  test("ancestry extraction fails when path has no ancestry segment") {
    val d = tmpDir("tsv-noanc")
    writeFile(d, "plain/f.tsv", "k\tv\na\t1\n")
    val df = PathKeys.withAncestryId()(
      TsvSource.read(spark, d.toString + "/plain/f.tsv"))
    assertThrows[Exception] { df.collect() }
  }

  test("JSON-lines roundtrip preserves long vs double distinction and drops nulls") {
    import spark.implicits._
    val d = tmpDir("jsonl")
    val src = Seq((1L, 1.5, "x", null.asInstanceOf[String]), (2L, 2.0, "y", "z"))
      .toDF("lng", "dbl", "s", "maybe")
    JsonLines.write(src, d.toString + "/out")
    // raw text: compact, null fields dropped
    val lines = spark.read.text(d.toString + "/out/*.json").as[String].collect()
    assert(lines.exists(l => !l.contains("maybe")), s"null field not dropped: ${lines.mkString}")
    assert(lines.forall(l => !l.contains(" ")))
    val back = JsonLines.read(spark, d.toString + "/out/*.json")
    val types = back.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("lng") == "long")
    assert(types("dbl") == "double")
    assert(back.count() == 2)
  }

  test("typed JSON-lines write (modeled records)") {
    import spark.implicits._
    val d = tmpDir("jsonl-t")
    val ds = Seq(Person("ada", 36L), Person("bob", 41L)).toDS()
    JsonLines.writeTyped(ds, d.toString + "/out")
    val back = JsonLines.read(spark, d.toString + "/out/*.json")
    assert(back.orderBy("name").select("name").collect().map(_.getString(0)).toSeq ==
      Seq("ada", "bob"))
  }

  private def writeTarFixture(
    dest: Path, members: Seq[(String, Array[Byte])], gzip: Boolean
  ): Unit = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
    val fileOut = Files.newOutputStream(dest)
    val tar = new TarArchiveOutputStream(fileOut match {
      case o if gzip => new GzipCompressorOutputStream(o)
      case o => o
    })
    // allow >100-char member names (PAX extended headers)
    tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    try {
      tar.putArchiveEntry(new TarArchiveEntry("dir-entry/"))
      tar.closeArchiveEntry()
      members.foreach { case (name, bytes) =>
        val e = new TarArchiveEntry(name)
        e.setSize(bytes.length.toLong)
        tar.putArchiveEntry(e)
        tar.write(bytes)
        tar.closeArchiveEntry()
      }
    } finally tar.close()
  }

  test("readTar: one row per regular member, dirs skipped, gzip auto-detected") {
    val d = tmpDir("graft-tartest")
    val longName = "deep/" + ("x" * 120) + ".bin" // forces a PAX header
    writeTarFixture(d.resolve("a.tar"), Seq(
      "one.txt" -> "hello\n".getBytes("UTF-8"),
      longName -> Array.tabulate(256)(_.toByte)), gzip = false)
    writeTarFixture(d.resolve("b.tar.gz"), Seq(
      "two.txt" -> "world\n".getBytes("UTF-8")), gzip = true)
    val rows = graft.sources.Archives.readTar(spark, s"$d/*.tar*")
      .collect()
      .map(r => r.getAs[String]("member_name") ->
        (r.getAs[Long]("member_size"), r.getAs[Array[Byte]]("member_bytes")))
      .toMap
    assert(rows.keySet == Set("one.txt", longName, "two.txt")) // no dir-entry/
    assert(rows("one.txt")._1 == 6L &&
      new String(rows("one.txt")._2, "UTF-8") == "hello\n")
    assert(rows("two.txt")._1 == 6L &&
      new String(rows("two.txt")._2, "UTF-8") == "world\n")
    assert(rows(longName)._1 == 256L &&
      rows(longName)._2.toSeq == Array.tabulate(256)(_.toByte).toSeq)
  }

  test("readTar: empty tar yields zero rows") {
    val d = tmpDir("graft-tarempty")
    writeTarFixture(d.resolve("empty.tar"), Seq.empty, gzip = false)
    assert(graft.sources.Archives.readTar(spark, s"$d/empty.tar").count() == 0L)
  }

  test("readTar: decompressed-size cap fails actionably, naming the archive") {
    val d = tmpDir("graft-tarbomb")
    // 3 members × 1 KiB decompressed; cap below that must fail at the
    // member that crosses it, with the archive path in the message
    writeTarFixture(d.resolve("big.tar.gz"),
      (0 until 3).map(i => s"m$i.bin" -> Array.fill(1024)('a'.toByte)),
      gzip = true)
    val e = intercept[org.apache.spark.SparkException] {
      graft.sources.Archives
        .readTar(spark, s"$d/big.tar.gz", maxDecompressedBytes = 2048L)
        .count()
    }
    val msg = Seq(e.getMessage, String.valueOf(e.getCause))
      .flatMap(m => Option(m)).mkString(" ")
    assert(msg.contains("maxDecompressedBytes") && msg.contains("big.tar.gz"),
      msg.take(500))
    // and the same archives pass under the default cap
    assert(graft.sources.Archives.readTar(spark, s"$d/big.tar.gz").count() == 3L)
  }

  test("readTar: over-cap on-disk archive is rejected at plan time with its path") {
    val d = tmpDir("graft-tarcap")
    writeTarFixture(d.resolve("ok.tar"),
      Seq("a.txt" -> "fine\n".getBytes("UTF-8")), gzip = false)
    // the guard reads listing metadata only, so a sparse truncate-made
    // file over the cap triggers it without writing 2 GiB
    val big = d.resolve("huge.tar")
    val ch = java.nio.channels.FileChannel.open(big,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      ch.position(graft.sources.Archives.MaxArchiveOnDiskBytes + 1024)
      ch.write(java.nio.ByteBuffer.wrap(Array[Byte](0)))
    } finally ch.close()
    val e = intercept[IllegalArgumentException] {
      graft.sources.Archives.readTar(spark, s"$d/*.tar")
    }
    assert(e.getMessage.contains("huge.tar") &&
      e.getMessage.contains("Split the drop"), e.getMessage.take(500))
  }

  test("writeTarShards: roundtrip through readTar preserves names, sizes, bytes") {
    import spark.implicits._
    val d = tmpDir("graft-tarsink")
    val rows = (0 until 100)
      .map(i => (s"dir${i % 3}/m$i.bin", Array.tabulate(50 + i)(j => (i + j).toByte)))
    val df = rows.toDF("member_name", "member_bytes").repartition(3)
    val manifest = graft.sources.Archives
      .writeTarShards(df, d.toString, codec = "gzip")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(manifest.map(_._2).sum == 100L, manifest.toSeq.toString)
    assert(manifest.map(_._3).sum == rows.map(_._2.length.toLong).sum)
    // every shard path actually exists and is gzip (magic bytes)
    manifest.foreach { case (p, _, _) =>
      val head = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(new java.net.URI(p).getPath)).take(2)
      assert((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b, p)
    }
    val back = graft.sources.Archives.readTar(spark, s"$d/part-*")
      .collect()
      .map(r => r.getAs[String]("member_name") -> r.getAs[Array[Byte]]("member_bytes").toSeq)
      .toMap
    assert(back.size == 100)
    rows.foreach { case (n, b) => assert(back(n) == b.toSeq, n) }
  }

  test("writeTarShards: zstd shards roundtrip, carry the zstd magic, and shrink the bytes") {
    import spark.implicits._
    val d = tmpDir("graft-tarzst")
    val rows = (0 until 60)
      .map(i => (s"m$i.txt", (s"member $i " * 40).getBytes("UTF-8")))
    val df = rows.toDF("member_name", "member_bytes").repartition(2)
    val manifest = graft.sources.Archives
      .writeTarShards(df, d.toString, codec = "zstd")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(manifest.map(_._2).sum == 60L)
    manifest.foreach { case (p, _) =>
      assert(p.endsWith(".tar.zst"), p)
      val f = java.nio.file.Paths.get(new java.net.URI(p).getPath)
      val head = java.nio.file.Files.readAllBytes(f).take(4)
      assert((head(0) & 0xff) == 0x28 && (head(1) & 0xff) == 0xb5 &&
        (head(2) & 0xff) == 0x2f && (head(3) & 0xff) == 0xfd, p)
      // repetitive text in a tar of >=30 512-byte blocks must compress
      assert(java.nio.file.Files.size(f) < 16 * 1024, p)
    }
    val back = graft.sources.Archives.readTar(spark, s"$d/part-*")
      .collect()
      .map(r => r.getAs[String]("member_name") -> r.getAs[Array[Byte]]("member_bytes").toSeq)
      .toMap
    assert(back.size == 60)
    rows.foreach { case (n, b) => assert(back(n) == b.toSeq, n) }
  }

  test("writeTarShards: a rerun into the same dir leaves no stale higher-seq shards") {
    import spark.implicits._
    val d = tmpDir("graft-tarstale")
    // first run: small cap → many shards per partition
    val big = (0 until 20).map(i => (s"m$i.bin", Array.fill(1000)(i.toByte)))
      .toDF("member_name", "member_bytes").coalesce(1)
    assert(graft.sources.Archives
      .writeTarShards(big, d.toString, maxShardBytes = 4000L).count() == 5L)
    // second run, same dir, different codec and far fewer shards: the
    // task-start cleanup must remove the first run's five .tar shards
    val small = Seq(("only.bin", Array[Byte](1))).toDF("member_name", "member_bytes")
      .coalesce(1)
    graft.sources.Archives.writeTarShards(small, d.toString, codec = "gzip")
    val back = graft.sources.Archives.readTar(spark, s"$d/part-*").collect()
    assert(back.map(_.getAs[String]("member_name")).toSeq == Seq("only.bin"),
      back.map(_.getAs[String]("member_name")).toSeq.toString)
  }

  test("writeTarShards: rolls shards at maxShardBytes, long names survive") {
    import spark.implicits._
    val d = tmpDir("graft-tarroll")
    val longName = "deep/" + ("n" * 150) + ".bin"
    val rows = (0 until 20).map(i =>
      (if (i == 7) longName else s"m$i.bin", Array.fill(1000)(i.toByte))) // 20 KB total
    val df = rows.toDF("member_name", "member_bytes").coalesce(1)
    val manifest = graft.sources.Archives
      .writeTarShards(df, d.toString, maxShardBytes = 4000L)
      .collect()
    // 1 KB members, 4 KB cap, one partition → 5 shards of 4
    assert(manifest.length == 5, manifest.toSeq.toString)
    assert(manifest.forall(_.getLong(1) == 4L))
    val back = graft.sources.Archives.readTar(spark, s"$d/part-*")
    assert(back.count() == 20L)
    assert(back.filter(col("member_name") === longName).count() == 1L)
  }

  test("writeTarShards: non-ASCII member names survive the roundtrip (PAX UTF-8)") {
    import spark.implicits._
    val d = tmpDir("graft-tarutf8")
    val names = Seq("docs/résumé.txt", "docs/日本語-メモ.bin", "emoji/🗂️-index.dat")
    val rows = names.zipWithIndex.map { case (n, i) => (n, Array.fill(8)(i.toByte)) }
    graft.sources.Archives.writeTarShards(
      rows.toDF("member_name", "member_bytes"), d.toString)
    val back = graft.sources.Archives.readTar(spark, s"$d/part-*")
      .collect().map(_.getAs[String]("member_name")).toSet
    assert(back == names.toSet, back.toString)
  }

  test("writeTarShards: empty partitions write no shards; empty frame yields empty manifest") {
    import spark.implicits._
    val d = tmpDir("graft-tarsparse")
    val df = Seq(("only.bin", Array[Byte](1, 2, 3))).toDF("member_name", "member_bytes")
      .repartition(8) // 7 empty partitions
    val manifest = graft.sources.Archives.writeTarShards(df, d.toString)
    assert(manifest.count() == 1L)
    val none = graft.sources.Archives.writeTarShards(
      spark.emptyDataset[(String, Array[Byte])].toDF("member_name", "member_bytes"),
      d.resolve("none").toString)
    assert(none.count() == 0L)
    assert(none.columns.toSeq == Seq("shard_path", "n_members", "member_bytes"))
  }
}

case class Person(name: String, age: Long)
