package org.apache.avro.file

/** The one package-private doorway the Avro sink needs: a fresh [[Codec]]
  * instance from a [[CodecFactory]]. `CodecFactory.createInstance` is
  * protected (so visible only inside this package) and `SnappyCodec` has
  * no public constructor, yet the sink's block pool keeps one codec
  * instance per thread and codec name. Lives in `org.apache.avro.file`
  * solely to satisfy the access rule; no Avro internals are modified.
  */
object CodecBridge {
  def create(factory: CodecFactory): Codec = factory.createInstance()
}
