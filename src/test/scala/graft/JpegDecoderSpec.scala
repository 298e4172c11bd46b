package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, StandardWatchEventKinds}
import java.util.concurrent.TimeUnit

import javax.imageio.stream.MemoryCacheImageOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MultimodalOps

/** The JPEG path of [[MultimodalOps.decodeImage]], which reads JPEG
  * through the JDK's ImageIO reader. ImageIO's writer encodes
  * synthetic images (default writer = baseline SOF0 with 4:2:0
  * chroma; progressive SOF2 on request), and the tier decodes them.
  *
  * `assertClose` compares the tier's channel means with `ImageIO.read`
  * plus this spec's own stats walk. Both sides run the same JDK
  * reader, so this is no independent check of the JPEG decode itself:
  * it pins the tier's stats walk (grey read as raster samples, RGB
  * channel order, the means) and the dispatch to the reader; its
  * tolerances are not to be widened. The cases that carry the weight
  * are the rejections (every truncated or corrupt payload must give
  * None, never a partial image) and the hand-built DRI stream, whose
  * pixel value is derived by hand. */
class JpegDecoderSpec extends AnyFunSuite {

  /** Deterministic RGB test card: gradients + a high-frequency block
    * so both DC and AC paths carry energy. */
  private def testImage(w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 255) / math.max(w - 1, 1)
      val g = (y * 255) / math.max(h - 1, 1)
      val b = if (((x / 4) + (y / 4)) % 2 == 0) 230 else 25
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    img
  }

  private def encode(img: BufferedImage, quality: Float): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  private def imageIoMeans(bytes: Array[Byte]): (Double, Double, Double) = {
    val img = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var sr = 0.0; var sg = 0.0; var sb = 0.0
    val raster = img.getRaster
    val gray = raster.getNumBands == 1
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      if (gray) {
        // raster samples, NOT getRGB: getRGB pushes gray through a
        // linear->sRGB color-space conversion (gamma) and would skew
        // the reference by ~60 levels mid-scale
        val v = raster.getSample(x, y, 0)
        sr += v; sg += v; sb += v
      } else {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
      }
    }
    val n = img.getWidth.toDouble * img.getHeight
    (sr / n, sg / n, sb / n)
  }

  private def assertClose(bytes: Array[Byte], tol: Double): Unit = {
    val got = MultimodalOps.decodeImage(bytes)
    assert(got.isDefined, "decoder rejected a valid JPEG")
    val d = got.get
    val (er, eg, eb) = imageIoMeans(bytes)
    assert(math.abs(d.meanR - er) <= tol, s"meanR ${d.meanR} vs $er")
    assert(math.abs(d.meanG - eg) <= tol, s"meanG ${d.meanG} vs $eg")
    assert(math.abs(d.meanB - eb) <= tol, s"meanB ${d.meanB} vs $eb")
  }

  test("4:2:0 chroma (the ImageIO default), dims not multiples of 16") {
    val bytes = encode(testImage(37, 23), 0.85f)
    val d = MultimodalOps.decodeImage(bytes).get
    assert(d.width === 37 && d.height === 23)
    assertClose(bytes, 1.5)
  }

  test("high quality (near-4:4:4 quant) and low quality both decode") {
    assertClose(encode(testImage(64, 48), 0.98f), 1.0)
    assertClose(encode(testImage(64, 48), 0.30f), 3.0)
  }

  test("grayscale single-component JPEG") {
    val src = testImage(32, 32)
    val gray = new BufferedImage(32, 32, BufferedImage.TYPE_BYTE_GRAY)
    gray.getGraphics.drawImage(src, 0, 0, null)
    val bytes = encode(gray, 0.9f)
    val d = MultimodalOps.decodeImage(bytes).get
    assert(d.width === 32 && d.height === 32)
    assert(d.meanR === d.meanG && d.meanG === d.meanB)
    assertClose(bytes, 1.5)
  }

  test("decode is deterministic (bit-identical repeat)") {
    val bytes = encode(testImage(41, 17), 0.8f)
    val a = MultimodalOps.decodeImage(bytes).get
    val b = MultimodalOps.decodeImage(bytes).get
    assert(a === b)
  }

  test("truncated and corrupt payloads return None, never garbage") {
    val bytes = encode(testImage(48, 48), 0.85f)
    assert(MultimodalOps.decodeImage(bytes.take(bytes.length / 2)) === None)
    assert(MultimodalOps.decodeImage(bytes.take(20)) === None)
    assert(MultimodalOps.decodeImage(Array[Byte](0xff.toByte, 0xd8.toByte)) === None)
    // flip a marker byte inside the header region to an invalid SOF
    val corrupt = bytes.clone()
    val sof = {
      var i = 2
      while (!((corrupt(i) & 0xff) == 0xff && (corrupt(i + 1) & 0xff) == 0xc0)) i += 1
      i
    }
    corrupt(sof + 1) = 0xc2.toByte // pretend progressive
    assert(MultimodalOps.decodeImage(corrupt) === None)
  }

  private def encodeProg(img: BufferedImage, quality: Float): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    // the JDK's default progressive scan script: DC first + AC
    // spectral-selection + successive-approximation refinement passes
    param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  private def assertSof2(bytes: Array[Byte]): Unit = {
    // make sure the writer really produced a PROGRESSIVE file (SOF2)
    var i = 2
    var sof = -1
    while (sof < 0 && i + 1 < bytes.length) {
      if ((bytes(i) & 0xff) == 0xff) {
        val m = bytes(i + 1) & 0xff
        if (m == 0xc0 || m == 0xc2) sof = m
      }
      i += 1
    }
    assert(sof === 0xc2, "fixture is not progressive")
  }

  test("progressive (SOF2): the JDK's default multi-scan script decodes") {
    for ((w, h, q, tol) <- Seq((37, 23, 0.85f, 1.5), (64, 48, 0.98f, 1.0),
      (64, 48, 0.30f, 3.0), (41, 17, 0.8f, 2.0))) {
      val bytes = encodeProg(testImage(w, h), q)
      assertSof2(bytes)
      val d = MultimodalOps.decodeImage(bytes)
      assert(d.isDefined, s"progressive ${w}x$h q=$q rejected")
      assert(d.get.width === w && d.get.height === h)
      assertClose(bytes, tol)
    }
  }

  test("progressive grayscale single-component") {
    val src = testImage(32, 32)
    val gray = new BufferedImage(32, 32, BufferedImage.TYPE_BYTE_GRAY)
    gray.getGraphics.drawImage(src, 0, 0, null)
    val bytes = encodeProg(gray, 0.9f)
    assertSof2(bytes)
    val d = MultimodalOps.decodeImage(bytes).get
    assert(d.width === 32 && d.height === 32)
    assert(d.meanR === d.meanG && d.meanG === d.meanB)
    assertClose(bytes, 1.5)
  }

  test("progressive decode is deterministic and rejects truncation") {
    val bytes = encodeProg(testImage(48, 48), 0.85f)
    assertSof2(bytes)
    val a = MultimodalOps.decodeImage(bytes).get
    val b = MultimodalOps.decodeImage(bytes).get
    assert(a === b)
    // cutting anywhere in the scan chain must reject, never partially
    // decode: a progressive file whose REFINEMENT scans are missing is
    // structurally truncated
    for (cut <- Seq(bytes.length / 4, bytes.length / 2, bytes.length - 2))
      assert(MultimodalOps.decodeImage(bytes.take(cut)) === None, s"cut at $cut")
  }

  test("decodeImage dispatches JPEG through the real tier") {
    val bytes = encode(testImage(24, 24), 0.9f)
    val viaDispatch = MultimodalOps.decodeImage(bytes)
    assert(viaDispatch.isDefined)
    val d = viaDispatch.get
    assert(d.width === 24 && d.height === 24)
    assert((d.meanR, d.meanG, d.meanB) === imageIoMeans(bytes))
    // the dHash pixel tier takes the same path: every pixel lands in
    // the grid's counts
    val grid = new Array[Long](144)
    assert(MultimodalOps.decodeGrid(bytes, grid))
    assert(grid.drop(72).sum === 24L * 24)
  }

  test("a JPEG decode writes no file to ImageIO's cache directory") {
    val bytes = encode(testImage(48, 48), 0.85f)
    val dir = Files.createTempDirectory("imageio-cache")
    val (useCache, cacheDir) = (ImageIO.getUseCache, ImageIO.getCacheDirectory)
    val watcher = dir.getFileSystem.newWatchService()
    try {
      ImageIO.setUseCache(true)
      ImageIO.setCacheDirectory(dir.toFile)
      dir.register(watcher, StandardWatchEventKinds.ENTRY_CREATE)
      assert(MultimodalOps.decodeImage(bytes).isDefined)
      // a file-backed stream deletes its temp file on close, so watch
      // for the creation, not only for what is left behind
      assert(watcher.poll(1, TimeUnit.SECONDS) === null, "a cache file was created")
      assert(dir.toFile.list().isEmpty)
    } finally {
      watcher.close()
      ImageIO.setUseCache(useCache)
      ImageIO.setCacheDirectory(cacheDir)
      dir.toFile.listFiles().foreach(_.delete())
      Files.delete(dir)
    }
  }

  test("restart intervals: decoder honors DRI/RSTn") {
    // ImageIO's writer does not emit DRI by default; splice one in by
    // re-encoding the entropy stream is out of scope — instead assert
    // a DRI-bearing stream from a hand-built minimal JPEG decodes.
    // Build: 16x8, grayscale, restart after every MCU (interval 1).
    val bytes = MinimalJpeg.grayWithRestarts()
    val d = MultimodalOps.decodeImage(bytes)
    assert(d.isDefined, "DRI stream rejected")
    assert(d.get.width === 16 && d.get.height === 8)
    // two flat 8x8 blocks, each coded as DC diff 8 (quant 1): the IDCT
    // gives 8/8 + 128 = 129 per pixel. Without the predictor reset at
    // RST0 the right block would read DC 16, i.e. 130.
    assert(d.get.meanR === 129.0 && d.get.meanG === 129.0 && d.get.meanB === 129.0)
    val (er, eg, eb) = imageIoMeans(bytes)
    assert(math.abs(d.get.meanR - er) <= 1.0)
    assert(math.abs(d.get.meanG - eg) <= 1.0)
    assert(math.abs(d.get.meanB - eb) <= 1.0)
  }
}

/** Hand-assembled minimal baseline JPEG with a DRI segment and RST0
  * between its two MCUs — the restart path ImageIO's writer never
  * emits. Grayscale 16x8, flat quant (all 1s), DC-only blocks. */
object MinimalJpeg {
  def grayWithRestarts(): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    def b(xs: Int*): Unit = xs.foreach(x => out += x.toByte)
    b(0xff, 0xd8) // SOI
    // DQT: table 0, all ones (identity quant)
    b(0xff, 0xdb, 0x00, 0x43, 0x00); (0 until 64).foreach(_ => b(1))
    // SOF0: 8-bit, 8 rows, 16 cols, 1 component id=1 h=v=1 tq=0
    b(0xff, 0xc0, 0x00, 0x0b, 0x08, 0x00, 0x08, 0x00, 0x10, 0x01, 0x01, 0x11, 0x00)
    // DHT DC table 0: one code of length 2 -> value 4 (4-bit DC diff),
    // plus one more of length 2 -> value 0 (zero diff)
    b(0xff, 0xc4, 0x00, 0x15, 0x00)
    b(0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) // two codes, len 2
    b(0x04, 0x00)
    // DHT AC table 0: one code of length 1 -> value 0x00 (EOB)
    b(0xff, 0xc4, 0x00, 0x14, 0x10)
    b(1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    b(0x00)
    // DRI: restart every 1 MCU
    b(0xff, 0xdd, 0x00, 0x04, 0x00, 0x01)
    // SOS: 1 component, DC table 0 / AC table 0
    b(0xff, 0xda, 0x00, 0x08, 0x01, 0x01, 0x00, 0x00, 0x3f, 0x00)
    // MCU 0: DC code '00' (symbol 4) + 4 bits diff 1000b=8 -> DC=8,
    // AC EOB ('0'). Bits: 00 1000 0 -> 0010000 + 1-pad to byte: 00100001
    b(0x21)
    b(0xff, 0xd0) // RST0
    // MCU 1: same block again (predictor was reset): 00100001
    b(0x21)
    b(0xff, 0xd9) // EOI
    out.toArray
  }
}
