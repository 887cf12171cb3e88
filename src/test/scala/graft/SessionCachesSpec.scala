package graft

import java.lang.reflect.{ParameterizedType, Type}

/** `SparkEntry.releaseSessionCaches` must empty every session cache the
  * object holds. The caches are found by reflection (every field whose
  * name ends in `Cache`), so a cache added later without a matching
  * clear fails here instead of leaking frames and scratch-dir paths.
  */
class SessionCachesSpec extends SparkSpec {

  /** A value of the declared type: frames are real (the release
    * unpersists them), tuples are built from their parts, anything else
    * is erased at runtime and only needs to exist.
    */
  private def sample(t: Type): AnyRef = t match {
    case p: ParameterizedType =>
      val raw = p.getRawType.asInstanceOf[Class[_]]
      if (classOf[org.apache.spark.sql.Dataset[_]].isAssignableFrom(raw))
        spark.emptyDataFrame
      else if (raw.getName.startsWith("scala.Tuple"))
        raw.getConstructors.head
          .newInstance(p.getActualTypeArguments.map(sample): _*)
          .asInstanceOf[AnyRef]
      else new Object
    case _ => new Object
  }

  test("releaseSessionCaches empties every *Cache field of SparkEntry") {
    val fields = SparkEntry.getClass.getDeclaredFields.toSeq
      .filter(_.getName.endsWith("Cache"))
    assert(fields.nonEmpty)
    val caches = fields.map { f =>
      f.setAccessible(true)
      val m = f.get(SparkEntry) match {
        case m: scala.collection.mutable.Map[_, _] =>
          m.asInstanceOf[scala.collection.mutable.Map[AnyRef, AnyRef]]
        case other => fail(s"${f.getName} is not a mutable map: $other")
      }
      val valueType = f.getGenericType.asInstanceOf[ParameterizedType]
        .getActualTypeArguments()(1)
      m.put("session-caches-spec", sample(valueType))
      f.getName -> m
    }
    SparkEntry.releaseSessionCaches()
    val leaked = caches.collect { case (n, m) if m.nonEmpty => n }
    assert(leaked.isEmpty, s"not cleared by releaseSessionCaches: $leaked")
  }
}
