package graft

import java.util.concurrent.ConcurrentHashMap

/** Size bound for the JVM-lifetime, path-keyed caches (segment schema
  * probes, index component schemas and rows): past the cap the cache
  * clears and re-warms lazily — a leak guard for long-lived sessions
  * that touch many segments or index generations; correctness never
  * depends on an entry being present. Gates touch tens of dirs; a
  * serving session cycling thousands would otherwise grow these maps
  * without bound. */
private[graft] object BoundedCache {

  val MaxEntries = 512

  def put[V](cache: ConcurrentHashMap[String, V], key: String, v: V): Unit = {
    if (cache.size() >= MaxEntries) cache.clear()
    cache.put(key, v)
  }
}
