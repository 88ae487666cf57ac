package graft.sources.geo

import java.nio.{ByteBuffer, ByteOrder}

import graft.ops.Grid

/** Minimal pure-JVM reader for the classic NetCDF format (CDF-1 and the
  * 64-bit-offset CDF-2 variant) — enough to load a bathymetry grid the
  * way the reference's `get_elev_netcdf` + xarray pipeline does
  * (`/root/reference/src/main.py:560,595`) without any codec library.
  *
  * Implements the public "NetCDF Classic Format Specification" (Unidata,
  * appendix B of the NetCDF User's Guide): a big-endian header
  * (magic `CDF\x01|\x02`, numrecs, dim list tag 0x0A, attribute list
  * tag 0x0C, variable list tag 0x0B, names and values padded to 4-byte
  * boundaries) followed by contiguous fixed-size variable data at each
  * variable's `begin` offset. NOT covered (out of scope for reference
  * grids): record (unlimited-dimension) variables, NC_STRING, and the
  * HDF5-based NetCDF-4 — those files fail loudly, never misparse.
  *
  * Conventions applied when materializing a variable: `scale_factor`,
  * `add_offset`, and `_FillValue`/`missing_value` (fill → NaN → the
  * flag-on-nan path downstream), matching how xarray decodes ETOPO/GEBCO
  * style grids.
  */
object NetcdfReader {

  final case class NcAtt(name: String, typ: Int, num: Array[Double], text: String)
  final case class NcVar(name: String, dimIds: Seq[Int], atts: Map[String, NcAtt],
                         typ: Int, begin: Long)
  final case class NcFile(dims: Seq[(String, Int)], atts: Map[String, NcAtt],
                          vars: Map[String, NcVar], buf: ByteBuffer) {

    private def typeSize(t: Int): Int = t match {
      case 1 | 2 => 1; case 3 => 2; case 4 | 5 => 4; case 6 => 8
      case other => throw new IllegalArgumentException(s"unsupported nc_type $other")
    }

    def shape(v: NcVar): Seq[Int] = v.dimIds.map(dims(_)._2)

    /** Materialize a fixed-size variable as doubles (row-major), with
      * scale/offset/fill applied.
      */
    def readDoubles(v: NcVar): Array[Double] = {
      val n = shape(v).product
      require(shape(v).forall(_ > 0),
        s"record variables unsupported: ${v.name} has a zero-length dimension")
      val b = buf.duplicate().order(ByteOrder.BIG_ENDIAN)
      b.position(v.begin.toInt)
      val raw = new Array[Double](n)
      var i = 0
      while (i < n) {
        raw(i) = v.typ match {
          case 1 => b.get().toDouble
          case 3 => b.getShort().toDouble
          case 4 => b.getInt().toDouble
          case 5 => b.getFloat().toDouble
          case 6 => b.getDouble()
          case t => throw new IllegalArgumentException(
            s"cannot read nc_type $t of ${v.name} as numbers")
        }
        i += 1
      }
      val fill = v.atts.get("_FillValue").orElse(v.atts.get("missing_value"))
        .flatMap(_.num.headOption)
      val scale = v.atts.get("scale_factor").flatMap(_.num.headOption).getOrElse(1.0)
      val offset = v.atts.get("add_offset").flatMap(_.num.headOption).getOrElse(0.0)
      i = 0
      while (i < n) {
        raw(i) = fill match {
          case Some(f) if raw(i) == f => Double.NaN
          case _ => raw(i) * scale + offset
        }
        i += 1
      }
      val _ = typeSize(v.typ) // validated above
      raw
    }
  }

  private final class Parser(buf: ByteBuffer) {
    buf.order(ByteOrder.BIG_ENDIAN)

    private def pad4(n: Int): Int = (n + 3) & ~3

    private def readName(): String = {
      val len = buf.getInt()
      val bytes = new Array[Byte](len)
      buf.get(bytes)
      buf.position(buf.position() + (pad4(len) - len))
      new String(bytes, "UTF-8")
    }

    private def readAtt(): NcAtt = {
      val name = readName()
      val typ = buf.getInt()
      val nelems = buf.getInt()
      typ match {
        case 2 => // char array = text attribute
          val bytes = new Array[Byte](nelems)
          buf.get(bytes)
          buf.position(buf.position() + (pad4(nelems) - nelems))
          NcAtt(name, typ, Array.empty, new String(bytes, "UTF-8"))
        case _ =>
          val vals = new Array[Double](nelems)
          var i = 0
          var read = 0
          while (i < nelems) {
            vals(i) = typ match {
              case 1 => read += 1; buf.get().toDouble
              case 3 => read += 2; buf.getShort().toDouble
              case 4 => read += 4; buf.getInt().toDouble
              case 5 => read += 4; buf.getFloat().toDouble
              case 6 => read += 8; buf.getDouble()
              case t => throw new IllegalArgumentException(
                s"unsupported attribute nc_type $t for $name")
            }
            i += 1
          }
          buf.position(buf.position() + (pad4(read) - read))
          NcAtt(name, typ, vals, "")
      }
    }

    private def readAttList(): Map[String, NcAtt] = {
      val tag = buf.getInt()
      val n = buf.getInt()
      require(tag == 0x0C || (tag == 0 && n == 0),
        f"bad attribute-list tag 0x$tag%08X")
      (0 until n).map { _ => val a = readAtt(); a.name -> a }.toMap
    }

    def parse(version: Int): NcFile = {
      buf.getInt() // numrecs
      val dimTag = buf.getInt()
      val nDims = buf.getInt()
      require(dimTag == 0x0A || (dimTag == 0 && nDims == 0),
        f"bad dimension-list tag 0x$dimTag%08X")
      val dims = (0 until nDims).map(_ => (readName(), buf.getInt()))
      val gatts = readAttList()
      val varTag = buf.getInt()
      val nVars = buf.getInt()
      require(varTag == 0x0B || (varTag == 0 && nVars == 0),
        f"bad variable-list tag 0x$varTag%08X")
      val vars = (0 until nVars).map { _ =>
        val name = readName()
        val ndims = buf.getInt()
        val dimIds = (0 until ndims).map(_ => buf.getInt())
        val atts = readAttList()
        val typ = buf.getInt()
        buf.getInt() // vsize
        val begin = if (version == 1) buf.getInt().toLong else buf.getLong()
        name -> NcVar(name, dimIds, atts, typ, begin)
      }.toMap
      NcFile(dims, gatts, vars, buf)
    }
  }

  /** Parse a classic NetCDF file (whole file in memory — reference grids
    * are driver-side data by design; a 21600×10800 ETOPO short grid is
    * ~0.5 GB, the curated QC regions far less).
    */
  def open(path: String): NcFile = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    // NetCDF-4 files are HDF5 containers (magic \x89HDF\r\n\x1a\n) —
    // current GEBCO/ETOPO grids ship in this format; name the one-line
    // conversion instead of a generic bad-magic error
    val isHdf5 = bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 &&
      bytes(1) == 'H' && bytes(2) == 'D' && bytes(3) == 'F'
    require(!isHdf5,
      s"$path is NetCDF-4/HDF5; this reader handles classic CDF-1/CDF-2 only — " +
        "convert once with `nccopy -k classic in.nc out.nc` (or export to f32/CSV)")
    require(bytes.length >= 8 && bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F',
      s"$path is not a classic NetCDF file (bad magic)")
    val version = bytes(3)
    require(version == 1 || version == 2,
      s"unsupported NetCDF variant ${version.toInt} (classic CDF-1/CDF-2 only; " +
        "NetCDF-4/HDF5 files need conversion, e.g. `nccopy -k classic`)")
    val buf = ByteBuffer.wrap(bytes)
    buf.position(4)
    new Parser(buf).parse(version)
  }

  /** Load a 2-D (lat, lon) variable plus its 1-D coordinate variables as
    * a [[Grid]] for the bilinear lookup path. Coordinates must be
    * uniformly spaced (the Grid contract) — validated here. Dispatches
    * on the file magic: classic CDF-1/CDF-2 parses here, netCDF-4/HDF5
    * containers route to [[Hdf5Reader]] — callers never need to know
    * which vintage the download was.
    */
  def grid(path: String, varName: String,
           latVar: String = "lat", lonVar: String = "lon"): Grid = {
    val head = {
      val in = new java.io.FileInputStream(path)
      try { val b = new Array[Byte](8); in.read(b); b } finally in.close()
    }
    if (Hdf5Reader.isHdf5(head)) return Hdf5Reader.grid(path, varName, latVar, lonVar)
    val nc = open(path)
    def variable(n: String): NcVar = nc.vars.getOrElse(n,
      throw new IllegalArgumentException(
        s"$path has no variable '$n' (found: ${nc.vars.keys.mkString(", ")})"))
    buildGrid(path, varName, latVar, lonVar,
      nc.readDoubles(variable(latVar)), nc.readDoubles(variable(lonVar)),
      nc.shape(variable(varName)), nc.readDoubles(variable(varName)))
  }

  /** Shared Grid assembly + uniform-spacing validation for both formats. */
  private[geo] def buildGrid(path: String, varName: String,
                             latVar: String, lonVar: String,
                             lat: Array[Double], lon: Array[Double],
                             sh: Seq[Int], data: Array[Double]): Grid = {
    require(lat.length >= 2 && lon.length >= 2, "coordinate axes need >= 2 points")
    def spacing(axis: Array[Double], name: String): Double = {
      val d = axis(1) - axis(0)
      var i = 2
      while (i < axis.length) {
        require(math.abs(axis(i) - axis(i - 1) - d) <= math.abs(d) * 1e-6,
          s"$name axis is not uniformly spaced (Grid requires it)")
        i += 1
      }
      d
    }
    val dLat = spacing(lat, latVar)
    val dLon = spacing(lon, lonVar)
    require(sh == Seq(lat.length, lon.length),
      s"$varName dims ${sh.mkString("x")} don't match ($latVar, $lonVar) = " +
        s"${lat.length}x${lon.length}; transpose the file or name the axes")
    new Grid(lat(0), dLat, lat.length, lon(0), dLon, lon.length,
      data.map(_.toFloat))
  }
}
