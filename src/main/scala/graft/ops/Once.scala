package graft.ops

import java.util.concurrent.ConcurrentHashMap

/** The build-once registry: [[get]] returns the value registered under a
  * key and builds it on the key's first call. It is the one get-or-build
  * map of the library — the stream family's shared runs and staged
  * inputs, [[Residue.swapOnce]]'s checkpoints, the cosine-prune geometry
  * and the parquet schemas each keep an instance.
  *
  * Each key has its own cell, and a build runs under that cell's monitor,
  * never under a map lock: builds take seconds and run Spark jobs, and
  * `ConcurrentHashMap.computeIfAbsent` would hold the bin lock — shared
  * by every key that hashes to the bin — for that whole time. So distinct
  * keys build concurrently, one key never builds twice, and a build that
  * throws registers nothing: the next caller builds again.
  *
  * [[remove]] and [[clear]] never wait for a build. A build in flight on
  * a dropped key hands its value to its own caller without registering
  * it, and a caller that was waiting on that key builds afresh. */
private[graft] final class Once[K, V] {
  /** `value` is read and written only under the cell's monitor. */
  private final class Cell { var value: Option[V] = None }

  private val cells = new ConcurrentHashMap[K, Cell]()

  /** The value registered under `key`, else `build`'s, registered. A
    * registered value that fails `keep` is built again in its place. */
  def get(key: K, keep: V => Boolean = (_: V) => true)(build: => V): V = {
    var out: Option[V] = None
    while (out.isEmpty) {
      val cell = cells.computeIfAbsent(key, _ => new Cell)
      out = cell.synchronized {
        if (cells.get(key) ne cell) None // dropped while waiting: retry
        else cell.value.filter(keep).orElse {
          val v = try build catch {
            case t: Throwable => cells.remove(key, cell); throw t
          }
          cell.value = Some(v)
          cell.value
        }
      }
    }
    out.get
  }

  def remove(key: K): Unit = cells.remove(key): Unit

  def clear(): Unit = cells.clear()
}
