package graft.embed

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Minimal pure-JVM reader/writer for the PUBLIC safetensors format
  * (huggingface/safetensors): an 8-byte little-endian header length, a JSON
  * header mapping tensor names to `{dtype, shape, data_offsets}`, then the
  * raw little-endian tensor bytes. The format is deliberately trivial to
  * parse — that is its published design goal — so a real exported weight
  * file loads here with NO native or Python dependency.
  *
  * Scope: F32 tensors (the dtype embedding matrices export to). Anything
  * else fails loudly at load, never silently misreads.
  *
  * This closes the "real local model" seam as far as an offline JVM can:
  * [[Embeddings.SafetensorsProvider]] runs real inference (hash-bucket
  * bag-of-tokens × the file's real projection matrix) against a real model
  * artifact in the real interchange format; transformer forward passes
  * stay behind the provider trait (the documented divergence — no ONNX
  * runtime in this container).
  */
object Safetensors {

  /** One parsed tensor: row-major F32 data with its shape. */
  final case class Tensor(shape: Seq[Int], data: Array[Float])

  /** Write `tensors` as a valid safetensors file (F32, row-major). */
  def write(path: String, tensors: Seq[(String, Tensor)]): Unit = {
    require(tensors.nonEmpty, "no tensors to write")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val header = om.createObjectNode()
    var off = 0L
    tensors.foreach { case (name, t) =>
      val n = t.shape.product
      require(n == t.data.length,
        s"tensor '$name': shape ${t.shape} != data length ${t.data.length}")
      val node = header.putObject(name)
      node.put("dtype", "F32")
      val sh = node.putArray("shape")
      t.shape.foreach(sh.add)
      val offs = node.putArray("data_offsets")
      offs.add(off); offs.add(off + n * 4L)
      off += n * 4L
    }
    val headerBytes = om.writeValueAsBytes(header)
    // off.toInt past 2 GiB would wrap (negative -> allocate throws, or a
    // small positive -> BufferOverflow mid-write) -- refuse LOUDLY; the
    // writer serves fixture/gate checkpoints, real multi-GiB exports
    // shard across files (review r18-7)
    require(off <= Int.MaxValue.toLong - 8 - headerBytes.length,
      s"safetensors write of ${off} tensor bytes exceeds the single-file " +
        "2 GiB buffer -- shard the checkpoint")
    val buf = ByteBuffer.allocate(8 + headerBytes.length + off.toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(headerBytes.length.toLong).put(headerBytes)
    tensors.foreach { case (_, t) => t.data.foreach(buf.putFloat) }
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, buf.array())
  }

  /** Prefix-aware accessors over a parsed checkpoint — the tensor/
    * matrix/vector/LayerNorm loader helpers shared by the Transformer
    * and Decoder loaders (review r18-7: the two verbatim copies had
    * already diverged — only one tolerated legacy gamma/beta LayerNorm
    * names). */
  final class CheckpointReader(file: String, ts: Map[String, Tensor],
                               prefix: String) {
    def has(name: String): Boolean = ts.contains(prefix + name)
    def tensor(name: String): Tensor =
      ts.getOrElse(prefix + name, throw new IllegalStateException(
        s"$file: missing tensor '$prefix$name'"))
    def mat(name: String): Array[Array[Float]] = {
      val t = tensor(name)
      require(t.shape.length == 2,
        s"tensor '$name' has shape ${t.shape}, expected a matrix")
      val (r, c) = (t.shape(0), t.shape(1))
      Array.tabulate(r)(i =>
        java.util.Arrays.copyOfRange(t.data, i * c, (i + 1) * c))
    }
    def vec(name: String): Array[Float] = {
      val t = tensor(name)
      require(t.shape.length == 1,
        s"tensor '$name' has shape ${t.shape}, expected a vector")
      t.data
    }
    /** LayerNorm (weight, bias), tolerating legacy gamma/beta names. */
    def normPair(base: String): (Array[Float], Array[Float]) = {
      def pick(a: String, b: String) =
        if (has(base + a)) base + a else base + b
      (vec(pick(".weight", ".gamma")), vec(pick(".bias", ".beta")))
    }
  }

  /** Non-metadata field names of a parsed header — the ONE definition of
    * the listing loop (review r18-7). */
  private def headerNames(
      header: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    header.fieldNames().forEachRemaining(n =>
      if (n != "__metadata__") names += n)
    names.toSeq
  }

  /** Parse the file (and its JSON header) ONCE and return every tensor —
    * the loader path for multi-tensor checkpoints (a transformer export is
    * hundreds of tensors; per-tensor [[readTensor]] calls would re-read
    * the file, and per-tensor header parses would re-parse a ~25 KB JSON
    * header hundreds of times). */
  def readAll(path: String): Map[String, Tensor] = {
    val all = java.nio.file.Files.readAllBytes(new java.io.File(path).toPath)
    val (header, headerLen) = parsedHeader(path, all)
    headerNames(header).iterator
      .map(n => n -> decodeEntry(path, all, header, headerLen, n)).toMap
  }

  /** Parse the file and return the named tensor. Validates the header
    * length, dtype, shape/offset consistency, and that offsets stay inside
    * the data section. */
  def readTensor(path: String, name: String): Tensor = {
    val all = java.nio.file.Files.readAllBytes(new java.io.File(path).toPath)
    decode(path, all, name)
  }

  private def parsedHeader(path: String, all: Array[Byte])
      : (com.fasterxml.jackson.databind.JsonNode, Long) = {
    require(all.length >= 8, s"$path: not a safetensors file (too short)")
    val bb = ByteBuffer.wrap(all).order(ByteOrder.LITTLE_ENDIAN)
    val headerLen = bb.getLong()
    require(headerLen > 0 && headerLen <= all.length - 8,
      s"$path: corrupt safetensors header length $headerLen")
    val headerJson = new String(all, 8, headerLen.toInt, StandardCharsets.UTF_8)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    (om.readTree(headerJson), headerLen)
  }

  private def decode(path: String, all: Array[Byte], name: String): Tensor = {
    val (header, headerLen) = parsedHeader(path, all)
    decodeEntry(path, all, header, headerLen, name)
  }

  private def decodeEntry(path: String, all: Array[Byte],
                          header: com.fasterxml.jackson.databind.JsonNode,
                          headerLen: Long, name: String): Tensor = {
    val node = header.get(name)
    require(node != null && node.isObject,
      s"$path: no tensor '$name' (has: ${headerNames(header).mkString(", ")})")
    // every header field is UNTRUSTED bytes: missing/mistyped fields,
    // negative or overflowing dims, and crafted offsets must all reject
    // with a typed message, never NPE or wrap (ArtifactFuzzSpec)
    val dtypeNode = node.get("dtype")
    require(dtypeNode != null && dtypeNode.isTextual,
      s"$path tensor '$name': missing/invalid dtype")
    val dtype = dtypeNode.asText()
    require(dtype == "F32" || dtype == "F16" || dtype == "BF16",
      s"$path tensor '$name': dtype $dtype unsupported (F32/F16/BF16 only)")
    val shapeNode = node.get("shape")
    require(shapeNode != null && shapeNode.isArray,
      s"$path tensor '$name': missing/invalid shape")
    val shape = {
      val b = Seq.newBuilder[Int]
      shapeNode.elements().forEachRemaining { e =>
        require(e.isInt && e.asInt() >= 0,
          s"$path tensor '$name': bad shape element ${e.asText()}")
        b += e.asInt()
      }
      b.result()
    }
    val offsNode = node.get("data_offsets")
    // integral-and-in-range only: isNumber would admit doubles (asLong
    // truncates silently) and BigInteger values (asLong WRAPS — a crafted
    // pair can wrap e−s onto the expected byte span and land the read at
    // a wrong offset)
    require(offsNode != null && offsNode.isArray && offsNode.size() == 2 &&
        offsNode.get(0).isIntegralNumber && offsNode.get(0).canConvertToLong &&
        offsNode.get(1).isIntegralNumber && offsNode.get(1).canConvertToLong,
      s"$path tensor '$name': missing/invalid data_offsets")
    val s = offsNode.get(0).asLong()
    val e = offsNode.get(1).asLong()
    require(s >= 0 && e >= s && e <= all.length - (8 + headerLen),
      s"$path tensor '$name': data_offsets [$s,$e) out of bounds")
    val nL = shape.foldLeft(1L) { (acc, d) =>
      // keep the running product <= 2^31 before each multiply, so the
      // Long arithmetic itself can never wrap (dims are each <= 2^31)
      require(acc <= Int.MaxValue,
        s"$path tensor '$name': shape $shape overflows element count")
      acc * d
    }
    require(nL <= Int.MaxValue,
      s"$path tensor '$name': shape $shape overflows element count")
    val n = nL.toInt
    val width = if (dtype == "F32") 4L else 2L
    val dataBase = 8 + headerLen
    require(e - s == nL * width && s >= 0 && dataBase + e <= all.length,
      s"$path tensor '$name': offsets [$s,$e) inconsistent with shape $shape")
    val bytes = ByteBuffer.wrap(all, (dataBase + s).toInt, (e - s).toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    val data = new Array[Float](n)
    if (dtype == "F32") bytes.asFloatBuffer().get(data)
    else {
      // 16-bit floats → float32, exact (every F16/BF16 value is
      // representable). BF16 is float32's top 16 bits — shift left 16.
      // slice() rebases absolute indexing to the tensor's own bytes (a
      // wrapped buffer's absolute gets address the BACKING ARRAY) — and
      // resets the byte order, so reapply LE.
      val hb = bytes.slice().order(ByteOrder.LITTLE_ENDIAN)
      val bf16 = dtype == "BF16"
      var i = 0
      while (i < n) {
        val bits = hb.getShort(i * 2)
        data(i) =
          if (bf16) java.lang.Float.intBitsToFloat((bits & 0xFFFF) << 16)
          else halfToFloat(bits)
        i += 1
      }
    }
    Tensor(shape, data)
  }

  /** IEEE 754 binary16 → binary32, bit-exact (subnormals, ±inf, NaN).
    * (Java 17 — `Float.float16ToFloat` arrives in 20.) */
  private[embed] def halfToFloat(h: Short): Float = {
    val bits = h & 0xFFFF
    val sign = (bits & 0x8000) << 16
    val exp = (bits >> 10) & 0x1F
    val mant = bits & 0x3FF
    if (exp == 0x1F) // inf / NaN
      java.lang.Float.intBitsToFloat(sign | 0x7F800000 | (mant << 13))
    else if (exp != 0) // normal
      java.lang.Float.intBitsToFloat(sign | ((exp + 112) << 23) | (mant << 13))
    else if (mant == 0) // signed zero
      java.lang.Float.intBitsToFloat(sign)
    else { // subnormal: mant × 2^-24
      val v = mant * 5.9604645e-8f
      if (sign != 0) -v else v
    }
  }

  /** The named tensor as a 2-D row-major matrix. */
  def matrix(path: String, name: String): Array[Array[Float]] = {
    val t = readTensor(path, name)
    require(t.shape.length == 2,
      s"tensor '$name' has shape ${t.shape}, expected a matrix")
    val (rows, cols) = (t.shape(0), t.shape(1))
    Array.tabulate(rows)(r => java.util.Arrays.copyOfRange(
      t.data, r * cols, (r + 1) * cols))
  }

  // Executor-shared matrix cache — the same one-load-per-JVM lifecycle as
  // LocalModel.sharedWeights (every partition's handle reuses the loaded
  // matrix; loadCount instruments actual file reads for the spec;
  // computeIfAbsent holds concurrent cold-starting partitions on the key
  // so exactly one read happens).
  private[embed] val loadCount = new java.util.concurrent.atomic.AtomicLong
  private val shared =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Array[Array[Float]]]()

  private[embed] def sharedMatrix(path: String,
                                  name: String): Array[Array[Float]] =
    shared.computeIfAbsent((path, name), _ => {
      loadCount.incrementAndGet()
      matrix(path, name)
    })

  /** Drop a cached matrix (artifact hot-swap seam). */
  def evictShared(path: String): Int = {
    val keys = scala.jdk.CollectionConverters.EnumerationHasAsScala(
      shared.keys()).asScala.filter(_._1 == path).toSeq
    keys.foreach(shared.remove)
    keys.size
  }
}
