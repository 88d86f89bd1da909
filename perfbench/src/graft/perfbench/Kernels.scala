package graft.perfbench

import graft.operators.{Brotli, Bzip2, Compression, Flac, Jpeg, Pixels, XzCodec}

/** One decode input: the encoded bytes, and a check that a decode of
  * them returned exactly what the encoder was given. */
final case class KernelInput(codec: String, bytes: Array[Byte],
    decodeAndCheck: () => Boolean)

/** Seeded inputs for the Spark-free decode loop. Every encoder is either
  * in the repo or in the JDK. Sizes, word lengths and signal shapes are
  * fixed; the seed draws only letters, noise and order, so every seed
  * gives the decoders the same amount of work. */
object Kernels {
  val codecs: Seq[String] =
    Seq("jpeg", "png", "gif", "flac", "xz", "bzip2", "brotli", "gzip")

  /** Byte payload shaped like text: words drawn from a seeded vocabulary
    * with a skewed frequency, so every codec finds matches to exploit. */
  private def text(rnd: scala.util.Random, size: Int): Array[Byte] = {
    val vocab = Array.tabulate(512) { i =>
      Array.fill(2 + i % 9)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    val sb = new StringBuilder(size + 16)
    while (sb.length < size) {
      val r = rnd.nextDouble()
      sb ++= vocab((r * r * vocab.length).toInt)
      sb += (if (rnd.nextInt(12) == 0) '\n' else ' ')
    }
    sb.toString.substring(0, size).getBytes("US-ASCII")
  }

  /** Gray image: smooth gradients plus seeded noise. */
  private def gray(rnd: scala.util.Random, w: Int, h: Int): Array[Int] = {
    val fx = 3
    val fy = 2
    Array.tabulate(w * h) { i =>
      val x = i % w
      val y = i / w
      val v = 128 + 60 * math.sin(fx * x * 0.05) + 50 * math.cos(fy * y * 0.04)
      math.max(0, math.min(255, (v + rnd.nextGaussian() * 6).toInt))
    }
  }

  private def color(rnd: scala.util.Random, w: Int,
      h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val r = gray(rnd, w, h)
    val g = gray(rnd, w, h)
    val b = gray(rnd, w, h)
    var i = 0
    while (i < w * h) {
      img.setRGB(i % w, i / w, (r(i) << 16) | (g(i) << 8) | b(i))
      i += 1
    }
    img
  }

  private def sameBytes(a: Option[Array[Byte]], b: Array[Byte]): Boolean =
    a.exists(java.util.Arrays.equals(_, b))

  private def samePixels(a: Option[(Int, Int, Array[Int])], w: Int, h: Int,
      px: Array[Int]): Boolean =
    a.exists { case (dw, dh, dp) =>
      dw == w && dh == h && java.util.Arrays.equals(dp, px) }

  /** Two inputs per codec, sized so that every decode call costs about
    * the same, ~5 ms on a 4-core VM: the median op then stands for all
    * codecs instead of falling into the gap between two of them. Four
    * times larger inputs no longer fit in cache and spread twice as
    * much between runs on a shared host.
    * JPEG decodes are checked once here against the JDK's decoder within
    * the repo's own tolerance (3 levels per channel); each timed decode
    * must then reproduce that checked decode exactly. */
  def inputs(seed: Long): Seq[KernelInput] = {
    val rnd = new scala.util.Random(seed)
    val comment = "perfbench".getBytes("US-ASCII")
    val jpegs = Seq((120, 96, 2, 2, false), (80, 64, 1, 1, true)).map {
      case (w, h, lh, lv, prog) =>
        val blob = Jpeg.encodeImageIO(color(rnd, w, h), lh, lv, prog)
        require(Jpeg.refereeMatch(blob, tol = 3),
          s"jpeg ${w}x$h input fails the ImageIO tolerance check")
        val ref = Jpeg.decodeJpeg(blob).get.pixels
        KernelInput("jpeg", blob, () =>
          Jpeg.decodeJpeg(blob).exists(i => java.util.Arrays.equals(i.pixels, ref)))
    }
    val pngs = Seq((512, 480), (512, 480)).map { case (w, h) =>
      val px = gray(rnd, w, h)
      val blob = Pixels.encodeGrayPng(w, h, px, comment)
      KernelInput("png", blob, () => samePixels(Pixels.decodePngLuma(blob), w, h, px))
    }
    val gifs = Seq((640, 512), (640, 512)).map { case (w, h) =>
      // 64 gray levels keep the LZW dictionary from saturating at once
      val px = gray(rnd, w, h).map(_ & 0xfc)
      val blob = Pixels.encodeGrayGif(w, h, px, comment)
      KernelInput("gif", blob, () => samePixels(Pixels.decodeGrayGif(blob), w, h, px))
    }
    val flacs = Seq(44100, 32000).map { rate =>
      val f1 = 440
      val f2 = 1800
      val samples = Array.tabulate(32768) { i =>
        val v = 9000 * math.sin(2 * math.Pi * f1 * i / rate) +
          4000 * math.sin(2 * math.Pi * f2 * i / rate) + rnd.nextGaussian() * 300
        math.max(-32768, math.min(32767, v.toInt))
      }
      val blob = Flac.encodeFlac(samples, 4096, rate)
      KernelInput("flac", blob, () => Flac.decodeFlac(blob).exists(a =>
        a.md5Ok && java.util.Arrays.equals(a.samples, samples)))
    }
    def bytesCodec(codec: String, size: Int, enc: Array[Byte] => Array[Byte],
        dec: Array[Byte] => Option[Array[Byte]]): Seq[KernelInput] =
      Seq(size, size).map { n =>
        val data = text(rnd, n)
        val blob = enc(data)
        KernelInput(codec, blob, () => sameBytes(dec(blob), data))
      }
    val xz = bytesCodec("xz", 56 << 10, XzCodec.encodeXz(_, literal = true),
      XzCodec.xzDecompress(_))
    val bz = bytesCodec("bzip2", 80 << 10, Bzip2.bzip2Compress(_),
      Bzip2.bunzip2(_))
    val br = bytesCodec("brotli", 112 << 10, Brotli.encodeFixed,
      Brotli.decompress(_, 1 << 24))
    val gz = bytesCodec("gzip", 768 << 10,
      Compression.encodeGzip(_, 0L, Some("perfbench.txt"), None),
      Compression.gunzip)
    jpegs ++ pngs ++ gifs ++ flacs ++ xz ++ bz ++ br ++ gz
  }
}

/** The `kernels` workload: decode calls in one thread, no Spark session
  * while timing. A traced run starts a Spark session for the environment
  * probe before set-up and again after the timed phase. */
object KernelBench {
  private val minWarmRounds = 20
  private val maxWarmRounds = 400

  def run(a: Main.Args): Result = {
    // starting Spark costs more than the timed phase, so only the traced
    // run (which reports it) takes the environment probe; it comes first
    // so that the classes Spark loads cannot deoptimise warmed decoders
    val c0 = Clock.nowMs
    val calibStart = if (a.traced) Calib.measure() else Double.NaN
    val calibS = (Clock.nowMs - c0) / 1e3
    val inputs = Kernels.inputs(a.seed)
    // JIT warm-up: whole rounds over every input until a round compiles
    // nothing more, so no timed call runs in code still being compiled
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    var warmFailed = 0
    var warmRounds = 0
    var compiledMs = -1L
    while (warmRounds < maxWarmRounds && (warmRounds < minWarmRounds ||
        jit.getTotalCompilationTime != compiledMs)) {
      compiledMs = jit.getTotalCompilationTime
      inputs.foreach(in => if (!in.decodeAndCheck()) warmFailed += 1)
      warmRounds += 1
    }
    val setupS = (Clock.nowMs - Jvm.startMs) / 1e3 - calibS
    System.gc()

    val rnd = new scala.util.Random(a.seed)
    val n = Kernels.codecs.size
    val timeNs = new Array[Long](n)
    val allocB = new Array[Long](n)
    val inB = new Array[Long](n)
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val spans = new SpanStore
    var failed = 0
    var rounds = 0
    val gc0 = Jvm.gcS
    val alloc0 = Jvm.allocBytes
    val cpu0 = Jvm.cpuS
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < a.seconds) {
      rnd.shuffle(inputs).foreach { in =>
        val k = Kernels.codecs.indexOf(in.codec)
        val m0 = Jvm.threadAlloc
        val s0 = System.nanoTime()
        val ok = try in.decodeAndCheck() catch { case _: Throwable => false }
        val dt = System.nanoTime() - s0
        if (a.traced) {
          val end = Clock.nowMs
          spans.add(-1, lat.size, s"kernel.${in.codec}", end - dt / 1e6, end,
            Seq("input_bytes" -> in.bytes.length.toDouble))
        }
        allocB(k) += Jvm.threadAlloc - m0
        timeNs(k) += dt
        inB(k) += in.bytes.length
        lat += dt / 1e9
        if (!ok) failed += 1
      }
      rounds += 1
    }
    val wallS = (System.nanoTime() - w0) / 1e9
    val cpuS = Jvm.cpuS - cpu0
    val gcS = Jvm.gcS - gc0
    val allocMb = (Jvm.allocBytes - alloc0) / 1048576.0
    val calibEnd = if (a.traced) Calib.measure() else Double.NaN
    if (a.traced) spans.writeJson(a.outDir.resolve("spans.jsonl"))

    val (e2e, info) = Jvm.e2e(setupS, wallS, cpuS, rounds, lat.toSeq)
    val attempted = lat.size + warmRounds * inputs.size
    val allFailed = failed + warmFailed
    val layers: Map[String, Double] =
      if (!a.traced) Map.empty
      else (Kernels.codecs.indices.flatMap { k =>
        val c = Kernels.codecs(k)
        Seq(s"kernel.$c.mb_per_s" -> inB(k) / 1048576.0 / (timeNs(k) / 1e9),
          s"kernel.$c.alloc_per_byte" -> allocB(k).toDouble / inB(k))
      } ++ Seq("jvm.gc_s" -> gcS / rounds, "jvm.alloc_mb" -> allocMb / rounds,
        "jvm.threads_peak" -> Jvm.threadsPeak,
        "jvm.classes_loaded" -> Jvm.classesLoaded,
        "env.calib_s" -> calibStart, "env.calib_end_s" -> calibEnd,
        "fail_ratio" -> allFailed.toDouble / attempted)).toMap
    Result(allFailed == 0, attempted, allFailed, e2e, layers,
      info ++ Seq("fail_ratio" -> f"${allFailed.toDouble / attempted}%.4f",
        "env.calib_s" -> f"$calibStart%.4f", "env.calib_end_s" -> f"$calibEnd%.4f",
        "warm_rounds" -> warmRounds.toString) ++
        (if (a.traced) spans.selfInfo(rounds) else Nil))
  }
}
