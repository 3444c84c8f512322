package graft

/** Driver-side microbench for the media fixture/codec kernels behind
  * q189–q198 (encode, ImageIO decode, hash) — attributes the media
  * family's per-record cost before touching any of it (guide §1:
  * measure first). `tools/run_main.sh graft.CodecProbe [--n=2000]`.
  * No SparkSession: these are the exact per-row bodies the
  * mapPartitions codec passes run, so single-thread ns/record here ×
  * corpus size / cores bounds the cluster-side pass cost.
  */
object CodecProbe {
  def main(args: Array[String]): Unit = {
    val cfg = Config(args)
    val n = cfg.get("n", "GRAFT_CODEC_PROBE_N", "2000").toInt
    graft.operators.Multimodal.disableImageIoDiskCache()

    def timed(label: String, iters: Int)(f: Int => Unit): Unit = {
      var i = 0
      while (i < math.min(200, iters)) { f(i); i += 1 } // JIT warmup
      val t0 = System.nanoTime()
      i = 0
      while (i < iters) { f(i); i += 1 }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[codec] $label: ${dt / iters * 1e6}%.1f us/rec ($iters recs, ${dt}%.2f s)")
    }

    // The q189/q195/q197 image fixture shapes.
    timed("encodeBlockPng 64x64..124x116", n) { i =>
      val id = i.toLong
      graft.operators.Multimodal
        .encodeBlockPng(2 * id, id, (64 + id % 61).toInt, (64 + (id / 61) % 53).toInt): Unit
    }
    val recs = (0 until n).map { i =>
      val id = i.toLong
      graft.operators.Multimodal
        .encodeBlockPng(2 * id, id, (64 + id % 61).toInt, (64 + (id / 61) % 53).toInt)
    }.toArray
    timed("ImageIO.read(payload)", n) { i =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(recs(i).payload))
      require(img != null)
    }
    val imgs = recs.map(r => javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload)))
    timed("dHash64 + aHash64", n) { i =>
      graft.operators.Multimodal.dHash64(imgs(i))
      graft.operators.Multimodal.aHash64(imgs(i)): Unit
    }
    timed("resizeExact (decode+resample+encode)", math.max(1, n / 5)) { i =>
      val id = i.toLong
      graft.operators.Multimodal
        .resizeExact(recs(i % n), 2 * id + 1, (48 + (id * 3 + 7) % 61).toInt, (48 + (id * 5 + 11) % 53).toInt): Unit
    }
    // The q191 audio fixture shape (text → PCM WAV → decode path runs
    // inside audioHashes; encode is the generator's cost).
    val txt = "The quick brown fox jumps over the lazy dog 0123456789 " * 6
    timed("encodePcmWav (340-char text)", n) { i =>
      graft.operators.Multimodal.encodePcmWav(i.toLong, txt): Unit
    }
    // The q193/q198 video fixture shape.
    timed("encodeBlockY4m 24x16..36x26 x4f", math.max(1, n / 2)) { i =>
      val id = i.toLong
      graft.operators.Multimodal
        .encodeBlockY4m(id, id, (24 + id % 13).toInt, (16 + (id / 13) % 11).toInt, (3 + id % 3).toInt): Unit
    }
    // THREAD-SCALING arm (r17): the §2.5 input-spread move only pays
    // if the JDK codec kernels actually scale across concurrent tasks
    // — javax.imageio / javax.sound route through registry lookups
    // whose locking behavior this measures directly. Reports wall
    // seconds for the SAME total record count at 1/8/32 threads; the
    // 1-thread line is the serial bound, ideal scaling divides by the
    // thread count. Machine-state-robust: all arms run back-to-back.
    for (threads <- Seq(1, 8, 32)) {
      // The first n % threads workers take one record more, so every
      // arm runs exactly the ids 0 until n.
      val (per, extra) = (n / threads, n % threads)
      val ranges = (0 until threads).map { t =>
        val from = t * per + math.min(t, extra)
        from until from + per + (if (t < extra) 1 else 0)
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        val t0 = System.nanoTime()
        val futs = ranges.map { ids =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              var i = ids.start
              var sink = 0L
              while (i < ids.end) {
                val id = i.toLong
                val r = graft.operators.Multimodal
                  .encodeBlockPng(2 * id, id, (64 + id % 61).toInt, (64 + (id / 61) % 53).toInt)
                val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
                sink += graft.operators.Multimodal.dHash64(img)
                i += 1
              }
              sink
            }
          })
        }
        val sink = futs.map(_.get(600, java.util.concurrent.TimeUnit.SECONDS): Long).sum
        val dt = (System.nanoTime() - t0) / 1e9
        if (sink == Long.MinValue) println("")
        println(f"[codec] png encode+decode+hash x${threads}thr: ${dt}%.2f s wall for ${ranges.map(_.size).sum} recs")
      } finally pool.shutdownNow()
    }
  }
}
