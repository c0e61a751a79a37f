package graft.spark

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.ClpEncoding
import graft.pipeline.{ClpPipeline, Dictionaries, TranscriptGen, Turn}
import graft.streaming.StreamingPipeline

/** Streaming ingestion: two micro-batches through the encode+route path —
  * dictionary IDs stay monotone across batches, all rows are routed, and the
  * decode round-trip holds on the streamed archive. */
class StreamingPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  test("micro-batches ingest with monotone dictionaries and byte-exact decode") {
    val outDir = Files.createTempDirectory("graft-stream-pipe").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val engine = new StreamingPipeline(spark, outDir)

    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Turn]
    val batch1 = (0L until 60L).map(c => TranscriptGen.turnAt(c, 0, seed = 11L))
    val batch2 = (60L until 120L).map(c => TranscriptGen.turnAt(c, 0, seed = 11L))

    source.addData(batch1)
    engine.start(source.toDF(), ckpt).processAllAvailable()
    val vd1 = spark.read.parquet(s"$outDir/var_dict")
      .as[(Long, String)].collect().toMap
    source.addData(batch2)
    engine.start(source.toDF(), ckpt).processAllAvailable()

    val routed = spark.read.parquet(s"$outDir/routed")
    assert(routed.count() == 120)
    assert(routed.select("batch_id").distinct().count() >= 2)

    // IDs from batch 1 unchanged after batch 2 (monotone growth)
    val vd2 = spark.read.parquet(s"$outDir/var_dict").as[(Long, String)].collect().toMap
    vd1.foreach { case (id, v) => assert(vd2(id) == v) }
    assert(vd2.size >= vd1.size)

    // byte-exact decode of the streamed archive
    val lts = spark.read.parquet(s"$outDir/logtype_dict")
    val inv: Map[Long, String] = vd2
    val bcInv = spark.sparkContext.broadcast(inv)
    val dictValsOf = udf((logtype: String, vars: Seq[Long]) => {
      ClpEncoding.placeholderKinds(logtype).iterator.zip(vars.iterator)
        .collect { case ('d', v) => bcInv.value(v) }.toSeq
    })
    val encValsOf = udf((logtype: String, vars: Seq[Long]) => {
      ClpEncoding.placeholderKinds(logtype).iterator.zip(vars.iterator)
        .collect { case (k, v) if k != 'd' => v }.toSeq
    })
    val decoded = routed.join(broadcast(lts), Seq("logtype_id"))
      .withColumn("text", graft.functions.ClpFunctions.clp_decode(col("logtype"),
        encValsOf(col("logtype"), col("vars")), dictValsOf(col("logtype"), col("vars"))))
      .select("conv_id", "turn_idx", "text")
    val original = (batch1 ++ batch2).map(t => (t.conv_id, t.turn_idx) -> t.text).toMap
    decoded.collect().foreach { r =>
      assert(original((r.getString(0), r.getInt(1))) == r.getString(2))
    }
  }

  test("replayed micro-batch ids are idempotent (at-least-once → exactly-once)") {
    val outDir = Files.createTempDirectory("graft-stream-replay").toString
    val engine = new StreamingPipeline(spark, outDir)
    val batch = (0L until 40L).map(c => TranscriptGen.turnAt(c, 0, seed = 17L)).toDF
    engine.processBatch(batch, 0L)
    val n1 = spark.read.parquet(s"$outDir/routed").count()
    // foreachBatch replays the same batch id after a failure — must not append
    engine.processBatch(batch, 0L)
    assert(spark.read.parquet(s"$outDir/routed").count() == n1)
    // a NEW id still appends
    engine.processBatch(batch, 1L)
    assert(spark.read.parquet(s"$outDir/routed").count() == 2 * n1)
  }

  test("processBatch leaves the caller's parquet timestamp type as it found it") {
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "INT96")
      val outDir = Files.createTempDirectory("graft-stream-tstype").toString
      new StreamingPipeline(spark, outDir)
        .processBatch((0L until 10L).map(c => TranscriptGen.turnAt(c, 0, seed = 3L)).toDF, 0L)
      assert(spark.conf.get(key) == "INT96")
      // while the batch itself wrote the archive's 8-byte type
      val part = Files.walk(java.nio.file.Paths.get(s"$outDir/routed")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.toUri), spark.sessionState.newHadoopConf()))
      try assert(footer.getFileMetaData.getSchema.getColumnDescription(Array("ts")).getPrimitiveType
        .getPrimitiveTypeName ==
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
      finally footer.close()
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("distributed dict mode (threshold=0): delta appends, batch-identical dicts, byte-exact decode") {
    val outDir = Files.createTempDirectory("graft-stream-dist").toString
    val engine = new StreamingPipeline(spark, outDir, driverDictThreshold = 0L)

    // three micro-batches, end-to-end with zero driver-side dictionary maps
    val batches = Seq(
      (0L until 40L).map(c => TranscriptGen.turnAt(c, 0, seed = 23L)),
      (40L until 80L).map(c => TranscriptGen.turnAt(c, 0, seed = 23L)),
      (80L until 120L).map(c => TranscriptGen.turnAt(c, 1, seed = 23L)))
    batches.zipWithIndex.foreach { case (b, i) => engine.processBatch(b.toDF, i.toLong) }

    val routed = engine.readRouted()
    assert(routed.count() == 120)

    // dict value sets equal the batch pipeline's over the concatenated input;
    // ids are dense and unique (monotone delta appends, no rewrites)
    val all = batches.flatten
    val parsedAll = ClpPipeline.parse(all.toDF)
    val expectedVars = parsedAll.select(explode(col("dict_vars")).as("v"))
      .distinct().as[String].collect().toSet
    val vd = spark.read.parquet(s"$outDir/var_dict").as[(Long, String)].collect()
    assert(vd.map(_._2).toSet == expectedVars)
    assert(vd.map(_._1).distinct.length == vd.length)
    assert(vd.map(_._1).sorted.toSeq == (0L until vd.length.toLong))

    // replay idempotency holds in distributed mode too
    engine.processBatch(batches(1).toDF, 1L)
    assert(engine.readRouted().count() == 120)
    assert(spark.read.parquet(s"$outDir/var_dict").count() == vd.length.toLong)

    // byte-exact decode of the streamed archive (no driver map was ever built)
    val lts = spark.read.parquet(s"$outDir/logtype_dict")
    val inv = vd.map { case (id, v) => id -> v }.toMap
    val bcInv = spark.sparkContext.broadcast(inv)
    val dictValsOf = udf((logtype: String, vars: Seq[Long]) => {
      ClpEncoding.placeholderKinds(logtype).iterator.zip(vars.iterator)
        .collect { case ('d', v) => bcInv.value(v) }.toSeq
    })
    val encValsOf = udf((logtype: String, vars: Seq[Long]) => {
      ClpEncoding.placeholderKinds(logtype).iterator.zip(vars.iterator)
        .collect { case (k, v) if k != 'd' => v }.toSeq
    })
    val decoded = routed.join(broadcast(lts.select("logtype_id", "logtype")), Seq("logtype_id"))
      .withColumn("text", graft.functions.ClpFunctions.clp_decode(col("logtype"),
        encValsOf(col("logtype"), col("vars")), dictValsOf(col("logtype"), col("vars"))))
      .select("conv_id", "turn_idx", "text")
    val original = all.map(t => (t.conv_id, t.turn_idx) -> t.text).toMap
    decoded.collect().foreach { r =>
      assert(original((r.getString(0), r.getInt(1))) == r.getString(2))
    }

    // a single first batch at threshold 0 reproduces the batch pipeline's
    // dictionary EXACTLY (same value sort, same dense ids from 0)
    val oneDir = Files.createTempDirectory("graft-stream-one").toString
    new StreamingPipeline(spark, oneDir, driverDictThreshold = 0L)
      .processBatch(all.toDF, 0L)
    val streamDict = spark.read.parquet(s"$oneDir/var_dict")
      .as[(Long, String)].collect().toMap
    val batchDict = Dictionaries.build(parsedAll, saltParts = 64, maxSinks = 64, threshold = 0L)
      .vars.select("var_id", "value").as[(Long, String)].collect().toMap
    assert(streamDict == batchDict)
  }

  test("IR-file streaming source: binary .gir streams feed the pipeline") {
    val srcDir = Files.createTempDirectory("graft-ir-src").toString
    val outDir = Files.createTempDirectory("graft-ir-out").toString
    val ckpt = Files.createTempDirectory("graft-ir-ckpt").toString

    // producer side: each conversation's turns serialized as one IR stream
    val convs = (0L until 20L).map { c =>
      val turns = (0 until 5).map(ix => TranscriptGen.turnAt(c, ix, seed = 13L))
      val blob = graft.core.IrStream.serialize(turns.map(t =>
        graft.core.IrStream.IrEvent(t.ts.getTime, graft.core.ClpEncoding.encode(t.text))))
      Files.write(java.nio.file.Paths.get(srcDir, f"conv$c%04d.gir"), blob)
      c -> turns
    }.toMap

    val engine = new StreamingPipeline(spark, outDir)
    engine.start(StreamingPipeline.irFileSource(spark, srcDir), ckpt)
      .processAllAvailable()

    val routed = spark.read.parquet(s"$outDir/routed")
    assert(routed.count() == 100)

    // the wire format carried everything: texts round-trip byte-exactly
    val lts = spark.read.parquet(s"$outDir/logtype_dict")
    val inv = spark.read.parquet(s"$outDir/var_dict").as[(Long, String)].collect().toMap
    val bcInv = spark.sparkContext.broadcast(inv)
    val dictValsOf = udf((logtype: String, vars: Seq[Long]) => {
      ClpEncoding.placeholderKinds(logtype).iterator.zip(vars.iterator)
        .collect { case ('d', v) => bcInv.value(v) }.toSeq
    })
    val encValsOf = udf((logtype: String, vars: Seq[Long]) => {
      ClpEncoding.placeholderKinds(logtype).iterator.zip(vars.iterator)
        .collect { case (k, v) if k != 'd' => v }.toSeq
    })
    val decoded = routed.join(broadcast(lts), Seq("logtype_id"))
      .withColumn("text", graft.functions.ClpFunctions.clp_decode(col("logtype"),
        encValsOf(col("logtype"), col("vars")), dictValsOf(col("logtype"), col("vars"))))
      .select("conv_id", "turn_idx", "text")
    decoded.collect().foreach { r =>
      val conv = r.getString(0).stripPrefix("conv").toLong
      assert(convs(conv)(r.getInt(1)).text == r.getString(2))
    }
  }

  test("watermarked count-by-time: bounded state, late rows dropped, windows emit once") {
    implicit val sqlCtx = spark.sqlContext
    def turn(conv: String, tsMs: Long): Turn =
      Turn(conv, 0, "user", "m", "t", new java.sql.Timestamp(tsMs))
    val h = 3600L * 1000 // window A = [0h, 1h)
    val source = MemoryStream[Turn]
    val q = StreamingPipeline.countsByWindow(source.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("wm_counts").outputMode("append").start()

    source.addData(Seq(turn("a", 10 * 60000L), turn("b", 20 * 60000L), turn("c", 30 * 60000L)))
    q.processAllAvailable() // window A open: 3 rows, watermark = 0:30 - 0:30
    source.addData(Seq(turn("d", 3 * h))) // advances watermark past window A's end
    q.processAllAvailable()
    // late row INTO window A after its end passed the watermark — dropped
    source.addData(Seq(turn("late", 15 * 60000L), turn("e", 4 * h)))
    q.processAllAvailable()
    q.stop()

    val a = spark.table("wm_counts")
      .filter(col("w_start") === new java.sql.Timestamp(0L)).collect()
    assert(a.length == 1, s"window A must emit exactly once, got ${a.toSeq}")
    assert(a.head.getAs[Long]("n") == 3, "late row must not be counted")
  }

  test("first-batch crash between the var-dict and logtype-dict writes replays cleanly") {
    // simulate the crash window: the var dict committed (_SUCCESS present),
    // the logtype dict never written, no batch marker. The replay must treat
    // dictionaries as absent — recompute from scratch and overwrite-heal the
    // half-committed one — not hydrate a nonexistent logtype-dict path
    val outDir = Files.createTempDirectory("graft-stream-crash").toString
    Seq((0L, "orphan-from-crashed-attempt")).toDF("var_id", "value")
      .coalesce(1).write.parquet(s"$outDir/var_dict")
    assert(new java.io.File(s"$outDir/var_dict/_SUCCESS").exists())

    val turns = (0L until 40L).map(c => TranscriptGen.turnAt(c, 0, seed = 7L))
    val engine = new StreamingPipeline(spark, outDir)
    engine.processBatch(turns.toDF(), 0L)

    assert(engine.readRouted().count() == 40)
    assert(new java.io.File(s"$outDir/logtype_dict/_SUCCESS").exists())
    // overwrite healing: the orphan value is gone, ids are dense from 0
    val vd = spark.read.parquet(s"$outDir/var_dict").as[(Long, String)].collect()
    assert(!vd.exists(_._2 == "orphan-from-crashed-attempt"))
    assert(vd.map(_._1).sorted.toSeq == (0L until vd.length).toSeq)
  }
}
