package graft.carve

/** Engine configuration: the 31 built-in file types with their header
  * patterns / size limits / validators (values from the reference's
  * config/default.yml:26-331 and src/config.rs:7-79), the type allow/deny
  * filter with zip/ole family expansion (src/util.rs:574-696), and the
  * registry builder with the quicktime-mode interplay (util.rs:141-549).
  *
  * The config is built on the driver and broadcast implicitly via task
  * closures — it is a few KiB of immutable data.
  */
final case class HeaderPattern(id: String, hex: String) {
  def bytes: Array[Byte] = Hex.decode(hex)
}

final case class FileTypeConfig(
    id: String,
    extensions: Seq[String],
    headerPatterns: Seq[HeaderPattern],
    footerPatterns: Seq[HeaderPattern] = Seq.empty,
    maxSize: Long,
    minSize: Long,
    validator: String,
    requireEocd: Boolean = false)

final case class EngineConfig(
    fileTypes: Seq[FileTypeConfig] = EngineConfig.defaultFileTypes,
    chunkSize: Long = 512L * 1024 * 1024,
    overlap: Long = 65536L,
    stringMinLen: Int = 6,
    stringMaxLen: Int = 1024,
    stringScanUtf16: Boolean = false,
    // per-artefact extraction toggles (reference enable_url_scan /
    // enable_email_scan / enable_phone_scan, src/config.rs:44-49,
    // default_true) and SQLite page-level URL recovery
    // (enable_sqlite_page_recovery, config.rs:68-69, default false)
    enableUrlScan: Boolean = true,
    enableEmailScan: Boolean = true,
    enablePhoneScan: Boolean = true,
    sqlitePageRecovery: Boolean = false,
    entropyWindowSize: Int = 4096,
    entropyThreshold: Double = 7.5,
    zipAllowedKinds: Option[Seq[String]] = None,
    oleAllowedKinds: Option[Seq[String]] = None,
    quicktimeMode: String = "mov", // mov | mp4
    maxFiles: Option[Long] = None,
    maxBytes: Option[Long] = None,
    maxChunks: Option[Long] = None) {
  // budgets above Int.MaxValue are clamped where they are applied
  require(maxFiles.forall(_ >= 0) && maxChunks.forall(_ >= 0),
    s"negative budget: max_files ${maxFiles.getOrElse("-")}, max_chunks ${maxChunks.getOrElse("-")}")
}

object EngineConfig {
  private val MiB = 1024L * 1024
  private val GiB = 1024L * MiB

  /** 31 default file types — ids, magics, limits from config/default.yml. */
  val defaultFileTypes: Seq[FileTypeConfig] = Seq(
    FileTypeConfig("jpeg", Seq("jpg", "jpeg"), Seq(HeaderPattern("jpeg_soi", "FFD8FF")), Seq.empty, 100 * MiB, 500, "jpeg"),
    FileTypeConfig("png", Seq("png"), Seq(HeaderPattern("png_sig", "89504E470D0A1A0A")), Seq.empty, 100 * MiB, 100, "png"),
    FileTypeConfig("gif", Seq("gif"), Seq(HeaderPattern("gif87a", "474946383761"), HeaderPattern("gif89a", "474946383961")), Seq.empty, 100 * MiB, 100, "gif"),
    FileTypeConfig("sqlite", Seq("sqlite"), Seq(HeaderPattern("sqlite_header", "53514C69746520666F726D6174203300")), Seq.empty, 512 * MiB, 100, "sqlite"),
    FileTypeConfig("pdf", Seq("pdf"), Seq(HeaderPattern("pdf_header", "255044462D")), Seq.empty, 100 * MiB, 64, "pdf"),
    FileTypeConfig("zip", Seq("zip"), Seq(HeaderPattern("zip_header", "504B0304")), Seq.empty, 100 * MiB, 32, "zip", requireEocd = true),
    FileTypeConfig("webp", Seq("webp"), Seq(HeaderPattern("webp_header", "52494646")), Seq.empty, 100 * MiB, 20, "webp"),
    FileTypeConfig("bmp", Seq("bmp"), Seq(HeaderPattern("bmp_header", "424D")), Seq.empty, 100 * MiB, 200, "bmp"),
    FileTypeConfig("tiff", Seq("tiff", "tif"), Seq(HeaderPattern("tiff_le_header", "49492A00"), HeaderPattern("tiff_be_header", "4D4D002A")), Seq.empty, 100 * MiB, 8, "tiff"),
    FileTypeConfig("mp4", Seq("mp4", "m4a", "m4v"), Seq(
      HeaderPattern("mp4_ftyp_14", "0000001466747970"), HeaderPattern("mp4_ftyp_18", "0000001866747970"),
      HeaderPattern("mp4_ftyp_1c", "0000001C66747970"), HeaderPattern("mp4_ftyp_20", "0000002066747970")),
      Seq.empty, 1 * GiB, 16, "mp4"),
    FileTypeConfig("rar", Seq("rar"), Seq(HeaderPattern("rar4_header", "526172211A0700"), HeaderPattern("rar5_header", "526172211A070100")), Seq.empty, 1 * GiB, 32, "rar"),
    FileTypeConfig("7z", Seq("7z"), Seq(HeaderPattern("7z_header", "377ABCAF271C")), Seq.empty, 1 * GiB, 32, "sevenz"),
    FileTypeConfig("wav", Seq("wav"), Seq(HeaderPattern("wav_riff", "52494646")), Seq.empty, 1 * GiB, 44, "wav"),
    FileTypeConfig("avi", Seq("avi"), Seq(HeaderPattern("avi_riff", "52494646")), Seq.empty, 4 * GiB, 128, "avi"),
    FileTypeConfig("mp3", Seq("mp3"), Seq(HeaderPattern("mp3_id3v2", "494433"), HeaderPattern("mp3_sync_fb", "FFFB"), HeaderPattern("mp3_sync_fa", "FFFA")), Seq.empty, 100 * MiB, 128, "mp3"),
    FileTypeConfig("ole", Seq("ole"), Seq(HeaderPattern("ole_cfb", "D0CF11E0A1B11AE1")), Seq.empty, 512 * MiB, 512, "ole"),
    FileTypeConfig("tar", Seq("tar"), Seq(HeaderPattern("tar_ustar", "7573746172")), Seq.empty, 1 * GiB, 1024, "tar"),
    FileTypeConfig("gzip", Seq("gz"), Seq(HeaderPattern("gzip_header", "1F8B08")), Seq.empty, 1 * GiB, 18, "gzip"),
    FileTypeConfig("bzip2", Seq("bz2"), Seq(HeaderPattern("bzip2_header", "425A68")), Seq.empty, 1 * GiB, 14, "bzip2"),
    FileTypeConfig("xz", Seq("xz"), Seq(HeaderPattern("xz_header", "FD377A585A00")), Seq.empty, 1 * GiB, 32, "xz"),
    FileTypeConfig("ogg", Seq("ogg", "oga", "ogv"), Seq(HeaderPattern("ogg_sync", "4F676753")), Seq.empty, 1 * GiB, 28, "ogg"),
    FileTypeConfig("mov", Seq("mov", "qt"), Seq(
      HeaderPattern("mov_ftyp_qt", "000000146674797071742020"), HeaderPattern("mov_ftyp_qt_18", "000000186674797071742020"),
      HeaderPattern("mov_ftyp_qt_1c", "0000001C6674797071742020"), HeaderPattern("mov_ftyp_qt_20", "000000206674797071742020")),
      Seq.empty, 10 * GiB, 16, "mov"),
    FileTypeConfig("webm", Seq("webm", "mkv"), Seq(HeaderPattern("webm_ebml", "1A45DFA3")), Seq.empty, 10 * GiB, 64, "webm"),
    FileTypeConfig("wmv", Seq("wmv", "wma", "asf"), Seq(HeaderPattern("wmv_asf", "3026B2758E66CF11A6D900AA0062CE6C")), Seq.empty, 10 * GiB, 64, "wmv"),
    FileTypeConfig("rtf", Seq("rtf"), Seq(HeaderPattern("rtf_header", "7B5C727466")), Seq.empty, 100 * MiB, 7, "rtf"),
    FileTypeConfig("ico", Seq("ico", "cur"), Seq(HeaderPattern("ico_header", "00000100"), HeaderPattern("cur_header", "00000200")), Seq.empty, 10 * MiB, 22, "ico"),
    FileTypeConfig("elf", Seq("elf", "so"), Seq(HeaderPattern("elf_magic", "7F454C46")), Seq.empty, 1 * GiB, 52, "elf"),
    FileTypeConfig("eml", Seq("eml"), Seq(HeaderPattern("eml_from", "46726F6D3A20"), HeaderPattern("eml_received", "52656365697665643A")), Seq.empty, 50 * MiB, 32, "eml"),
    FileTypeConfig("mobi", Seq("mobi", "azw", "azw3", "prc"), Seq(HeaderPattern("mobi_pdb", "424F4F4B4D4F4249")), Seq.empty, 512 * MiB, 68, "mobi"),
    FileTypeConfig("fb2", Seq("fb2"), Seq(HeaderPattern("fb2_xml", "3C3F786D6C")), Seq.empty, 100 * MiB, 64, "fb2"),
    FileTypeConfig("lrf", Seq("lrf"), Seq(HeaderPattern("lrf_header", "4C524600")), Seq.empty, 100 * MiB, 64, "lrf"))

  private val ZipKinds = Set("zip", "docx", "xlsx", "pptx", "odt", "ods", "odp", "epub")
  private val OleKinds = Set("ole", "doc", "xls", "ppt")

  /** Allow/deny filtering with zip/ole family expansion — returns the
    * filtered config and the (sorted) unknown entries.
    */
  def filterFileTypes(cfg: EngineConfig, allowList: Option[Seq[String]], disableZip: Boolean): (EngineConfig, Seq[String]) = {
    var out = cfg
    var unknown = List.empty[String]
    allowList.foreach { list =>
      val allow = list.map(_.trim.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty).toSet
      var known = Set.empty[String]
      var hasZip = false
      var hasOle = false
      cfg.fileTypes.foreach { ft =>
        known += ft.id.toLowerCase(java.util.Locale.ROOT)
        if (ft.validator.trim.nonEmpty) known += ft.validator.toLowerCase(java.util.Locale.ROOT)
        if (ft.id.equalsIgnoreCase("zip") || ft.validator.equalsIgnoreCase("zip")) hasZip = true
        if (ft.id.equalsIgnoreCase("ole") || ft.validator.equalsIgnoreCase("ole")) hasOle = true
      }
      if (hasZip) known ++= ZipKinds
      if (hasOle) known ++= OleKinds
      unknown = allow.filterNot(known.contains).toList
      val allowZipFamily = allow.exists(ZipKinds.contains)
      val allowOleFamily = allow.exists(OleKinds.contains)
      val kept = cfg.fileTypes.filter { ft =>
        val id = ft.id.toLowerCase(java.util.Locale.ROOT)
        val validator = if (ft.validator.trim.isEmpty) id else ft.validator.toLowerCase(java.util.Locale.ROOT)
        val isZip = id == "zip" || validator == "zip"
        val isOle = id == "ole" || validator == "ole"
        allow.contains(id) || allow.contains(validator) ||
          (isZip && allowZipFamily) || (isOle && allowOleFamily)
      }
      var zipKinds = cfg.zipAllowedKinds
      if (allowZipFamily && hasZip) {
        zipKinds =
          if (allow.contains("zip")) None
          else {
            val kinds = Seq("docx", "xlsx", "pptx", "odt", "ods", "odp", "epub").filter(allow.contains)
            if (kinds.isEmpty) None else Some(kinds)
          }
      }
      var oleKinds = cfg.oleAllowedKinds
      if (allowOleFamily && hasOle) {
        oleKinds =
          if (allow.contains("ole")) None
          else {
            val kinds = Seq("doc", "xls", "ppt").filter(allow.contains)
            if (kinds.isEmpty) None else Some(kinds)
          }
      }
      out = cfg.copy(fileTypes = kept, zipAllowedKinds = zipKinds, oleAllowedKinds = oleKinds)
    }
    if (disableZip) {
      out = out.copy(
        fileTypes = out.fileTypes.filterNot(ft =>
          ft.id.equalsIgnoreCase("zip") || ft.validator.equalsIgnoreCase("zip")),
        zipAllowedKinds = None)
    }
    (out, unknown.sorted)
  }

  /** Validator → handler registry keyed by file-type id, with the
    * quicktime-mode mov/mp4 interplay (util.rs:141-549, 368-388).
    */
  def buildRegistry(cfg: EngineConfig): Map[String, CarveHandler] = {
    val allowQuicktime = cfg.quicktimeMode.equalsIgnoreCase("mp4")
    def validatorOf(ft: FileTypeConfig): String =
      if (ft.validator.trim.isEmpty) ft.id else ft.validator
    val mp4Type = cfg.fileTypes.find(ft => validatorOf(ft) == "mp4")
    val hasMp4 = mp4Type.isDefined
    val mp4Ext = mp4Type.flatMap(_.extensions.headOption).map(Naming.sanitizeExtension).getOrElse("mp4")

    cfg.fileTypes.flatMap { ft =>
      val ext = Naming.sanitizeExtension(ft.extensions.headOption.getOrElse(ft.id))
      val mx = ft.maxSize
      val mn = ft.minSize
      val handler: Option[CarveHandler] = validatorOf(ft) match {
        case "jpeg" => Some(new JpegCarver(mx, mn, ext))
        case "png" => Some(new PngCarver(mx, mn, ext))
        case "gif" => Some(new GifCarver(mx, mn, ext))
        case "sqlite" => Some(new SqliteCarver(mx, mn, ext))
        case "pdf" => Some(new PdfCarver(mx, mn, ext))
        case "zip" => Some(new ZipCarver(mx, mn, ext, ft.requireEocd, cfg.zipAllowedKinds.map(_.toSet)))
        case "webp" => Some(new WebpCarver(mx, mn, ext))
        case "bmp" => Some(new BmpCarver(mx, mn, ext))
        case "tiff" => Some(new TiffCarver(mx, mn, ext))
        case "mp4" => Some(new Mp4Carver(mx, mn, ext, allowQuicktime))
        case "rar" => Some(new RarCarver(mx, mn, ext))
        case "sevenz" => Some(new SevenZCarver(mx, mn, ext))
        case "wav" => Some(new WavCarver(mx, mn, ext))
        case "avi" => Some(new AviCarver(mx, mn, ext))
        case "mp3" => Some(new Mp3Carver(mx, mn, ext))
        case "ole" => Some(new OleCarver(mx, mn, ext, cfg.oleAllowedKinds.map(_.toSet)))
        case "tar" => Some(new TarCarver(mx, mn, ext))
        case "gzip" => Some(new GzipCarver(mx, mn, ext))
        case "bzip2" => Some(new Bzip2Carver(mx, mn, ext))
        case "xz" => Some(new XzCarver(mx, mn, ext))
        case "ogg" => Some(new OggCarver(mx, mn, ext))
        case "mov" =>
          if (allowQuicktime && hasMp4) None // mp4 handler covers qt files
          else if (allowQuicktime) Some(new Mp4Carver(mx, mn, mp4Ext, allowQuicktime = true))
          else Some(new MovCarver(mx, mn, ext))
        case "webm" => Some(new WebmCarver(mx, mn, ext))
        case "wmv" => Some(new WmvCarver(mx, mn, ext))
        case "rtf" => Some(new RtfCarver(mx, mn, ext))
        case "ico" => Some(new IcoCarver(mx, mn, ext))
        case "elf" => Some(new ElfCarver(mx, mn, ext))
        case "eml" => Some(new EmlCarver(mx, mn, ext))
        case "mobi" => Some(new MobiCarver(mx, mn, ext))
        case "fb2" => Some(new Fb2Carver(mx, mn, ext))
        case "lrf" => Some(new LrfCarver(mx, mn, ext))
        case "footer" => Some(new FooterCarver(ft.id, ext,
          ft.headerPatterns.map(_.bytes), ft.footerPatterns.map(_.bytes), mx, mn))
        case _ => None
      }
      handler.map(ft.id -> _)
    }.toMap
  }
}
