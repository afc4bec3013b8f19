package perfbench

import java.util.SplittableRandom

/** One request of the `xes_service` schedule. `target` is the index of
  * the earlier request a `hit` repeats, or -1.
  */
final case class Req(index: Int, kind: String, ids: Vector[String], target: Int)

/** The seeded request schedule of the `xes_service` workload.
  *
  * Class counts are exact, so every reported percentile keeps its sample
  * count on every seed. `small` requests name a resource not requested
  * before; `bulk` requests name `bulkIds` distinct random resources; a
  * `hit` repeats one of the `window` most recent `small` keys, but never
  * one of the `minBack` latest, so its reuse distance stays short and the
  * first response has normally arrived (the client still waits for it).
  */
object Schedule {

  final case class Mix(small: Int, bulk: Int, hit: Int, bulkIds: Int = 300,
                       minBack: Int = 4, window: Int = 32) {
    require(small > minBack, "hits need more small keys than minBack")
    def total: Int = small + bulk + hit
  }

  def build(seed: Long, pool: IndexedSeq[String], mix: Mix): Vector[Req] = {
    require(pool.size >= mix.small && pool.size >= mix.bulkIds,
      s"resource pool of ${pool.size} is too small for $mix")
    val rng = new SplittableRandom(seed)
    val fresh = shuffled(pool, rng)
    var remS = mix.small; var remB = mix.bulk; var remH = mix.hit
    val smallIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = Vector.newBuilder[Req]
    for (i <- 0 until mix.total) {
      val r = rng.nextInt(remS + remB + remH)
      val drawn = if (r < remS) "small" else if (r < remS + remB) "bulk" else "hit"
      val kind =
        if (drawn == "hit" && smallIdx.size <= mix.minBack)
          if (remS > 0) "small" else "bulk"
        else drawn
      kind match {
        case "small" =>
          remS -= 1
          out += Req(i, kind, Vector(fresh(smallIdx.size)), -1)
          smallIdx += i
        case "bulk" =>
          remB -= 1
          out += Req(i, kind, shuffled(pool, rng).take(mix.bulkIds), -1)
        case _ =>
          remH -= 1
          val hi = smallIdx.size - mix.minBack
          val lo = math.max(0, smallIdx.size - mix.window)
          out += Req(i, kind, Vector.empty, smallIdx(lo + rng.nextInt(hi - lo)))
      }
    }
    val reqs = out.result()
    // a hit carries the ids of the request it repeats
    reqs.map(r => if (r.kind == "hit") r.copy(ids = reqs(r.target).ids) else r)
  }

  private def shuffled(xs: IndexedSeq[String], rng: SplittableRandom): Vector[String] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector
  }
}
