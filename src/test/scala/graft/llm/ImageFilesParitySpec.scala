package graft.llm

import graft.SparkTestBase

/** Pins the files→dedup production shape (r16): the dHash frame
  * ingested from the one-PNG-per-doc file tree through Spark's
  * binaryFile source is IDENTICAL to the render-sourced artifact
  * frame, and the declared files query reproduces the render-sourced
  * dedup output — so the write → list → binaryFile-read → decode →
  * hash chain loses nothing. */
class ImageFilesParitySpec extends SparkTestBase {
  import spark.implicits._

  import MultimodalOps.{Audio, Image, Video}

  test("file-sourced and render-sourced dHash frames are identical") {
    val fromFiles = MultimodalOps.decodedFromFiles(Image, spark, sf0001)
      .collect().map(_.toString).sorted
    val fromRender = MultimodalOps.decodedFrame(Image, spark, sf0001)
      .collect().map(_.toString).sorted
    assert(fromFiles.nonEmpty)
    assert(fromFiles.sameElements(fromRender),
      "binaryFile ingest changed at least one doc's dHash")
  }

  test("the files tree holds one PNG per doc and re-runs read, not rewrite") {
    val dir = new java.io.File(MultimodalOps.filesPath(Image, sf0001))
    assert(dir.isDirectory)
    val nDocs = graft.Tables.documents(spark, sf0001).count()
    val pngs = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".png"))
    assert(pngs.length.toLong === nDocs)
    val stamps = pngs.map(f => f.getName -> f.lastModified()).toMap
    MultimodalOps.decodedFromFiles(Image, spark, sf0001).collect()
    val after = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".png"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after === stamps, "file tree was rewritten, not read")
    // the other media trees: (dir, object extension, a consumer of it)
    val trees = Seq[(String, String, () => Unit)](
      (MultimodalOps.filesPath(Audio, sf0001), ".wav",
        () => MultimodalOps.decodedFromFiles(Audio, spark, sf0001).collect()),
      (MultimodalOps.filesPath(Video, sf0001), ".png",
        () => MultimodalOps.decodedFromFiles(Video, spark, sf0001).collect()),
      (MultimodalOps.streamBatchFilesPath(sf0001), ".png",
        () => MultimodalOps.streamMediaIncremental(spark, sf0001).collect()))
    for ((path, ext, read) <- trees) {
      def objects = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(ext))
        .map(f => f.getName -> f.lastModified()).toMap
      read()
      val built = objects
      assert(built.nonEmpty, s"$path holds no $ext objects")
      read()
      assert(objects === built, s"file tree $path was rewritten, not read")
    }
  }

  test("audio twin: file-sourced energy frame equals the render-sourced one") {
    val fromFiles = MultimodalOps.decodedFromFiles(Audio, spark, sf0001)
      .collect().map(_.toString).sorted
    val fromRender = MultimodalOps.decodedFrame(Audio, spark, sf0001)
      .collect().map(_.toString).sorted
    assert(fromFiles.nonEmpty)
    assert(fromFiles.sameElements(fromRender),
      "binaryFile ingest changed at least one doc's band energies")
  }

  test("video twin: file-sourced frame hashes equal the render-sourced ones on the slice") {
    import org.apache.spark.sql.functions.col
    val fromFiles = MultimodalOps.decodedFromFiles(Video, spark, sf0001)
      .collect().map(_.toString).sorted
    val fromRender = Video.decodeRendered(MultimodalOps.mediaRoles(spark, sf0001)
        .filter(col("doc_id") % 100 < 20))
      .collect().map(_.toString).sorted
    assert(fromFiles.nonEmpty)
    assert(fromFiles.sameElements(fromRender),
      "frame-file ingest changed at least one sampled frame's dHash")
  }

  test("declared files query equals the render-sourced dedup output") {
    val files = MultimodalOps.imagePhashDedupFiles(spark, sf0001).collect()
    val render = MultimodalOps.imagePhashDedup(spark, sf0001).collect()
    assert(files.nonEmpty)
    assert(files.map(_.toString).sameElements(render.map(_.toString)))
  }

  test("audio twin: file-sourced WAV dedup equals the render-sourced output") {
    val files = MultimodalOps.audioFingerprintDedupFiles(spark, sf0001)
      .collect()
    val render = MultimodalOps.audioFingerprintDedup(spark, sf0001).collect()
    assert(files.nonEmpty)
    assert(files.map(_.toString).sameElements(render.map(_.toString)))
    val dir = new java.io.File(MultimodalOps.filesPath(Audio, sf0001))
    val nDocs = graft.Tables.documents(spark, sf0001).count()
    val wavs = Option(dir.listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".wav"))
    assert(wavs.toLong === nDocs)
  }

  test("video twin: frame-files dedup equals the column pipeline on the slice") {
    import org.apache.spark.sql.functions._
    val files = MultimodalOps.videoFramehashDedupFiles(spark, sf0001)
      .collect()
    assert(files.nonEmpty, "no pairs on the slice (vacuous)")
    // parity reference: the column-shaped pipeline CANNOT be compared
    // directly (its cap census covers the full corpus) — but every
    // slice pair must be a planted replay or a full-pipeline pair,
    // and every planted replay inside the slice must be found
    val slice = (id: Long) => id % 100 < 20
    assert(files.forall(r => slice(r.getLong(0)) && slice(r.getLong(1))))
    val docs = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val plantedInSlice = docs.filter(d =>
      d % 10 == 1 && slice(d) && slice(d - 1) && docs.contains(d - 1))
    assert(plantedInSlice.nonEmpty)
    val found = files.filter(_.getBoolean(3))
      .map(_.getLong(1)).toSet
    assert(plantedInSlice.forall(found.contains),
      "a planted replay inside the slice was missed")
    // one PNG per (doc-in-slice, sampled position)
    val dir = new java.io.File(MultimodalOps.filesPath(Video, sf0001))
    val nSlice = docs.count(slice)
    val pngs = Option(dir.listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".png"))
    assert(pngs === nSlice * 4)
  }
}
