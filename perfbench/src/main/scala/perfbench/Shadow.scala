package perfbench

import scala.collection.mutable

/** The harness's model of what a GraftDB must answer: last writer wins
  * per key in commit order, a delete is a tombstone, and TTL applies after
  * last-writer-wins, so a newer expired version hides an older live one.
  * Keys are ASCII strings, whose byte order is the store's unsigned order.
  */
final class ShadowKV {
  // key -> (value, expiresAt); a null value is a tombstone
  private val latest = mutable.HashMap.empty[String, (Array[Byte], Long)]

  def put(key: String, value: Array[Byte], expiresAt: Long): Unit =
    latest(key) = (value, expiresAt)

  def delete(key: String): Unit = latest(key) = (null, 0L)

  private def live(e: (Array[Byte], Long), nowSec: Long): Boolean =
    e._1 != null && (e._2 == 0L || e._2 > nowSec)

  def get(key: String, nowSec: Long): Option[Array[Byte]] =
    latest.get(key).filter(live(_, nowSec)).map(_._1)

  /** Live entries whose key starts with `prefix`, in key order. */
  def scanPrefix(prefix: String, nowSec: Long): Vector[(String, Array[Byte])] =
    latest.iterator.collect { case (k, e) if k.startsWith(prefix) && live(e, nowSec) => (k, e._1) }
      .toVector.sortBy(_._1)

  /** Key plus value bytes of every live entry. */
  def liveBytes(nowSec: Long): Long =
    latest.iterator.collect { case (k, e) if live(e, nowSec) => k.length.toLong + e._1.length }.sum
}
