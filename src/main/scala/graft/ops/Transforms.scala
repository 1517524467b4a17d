package graft.ops

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.schema.RandomUserSchema

/**
 * The ETL spine of the reference pipeline, re-expressed as pure
 * `DataFrame => DataFrame` stages so every stage unit-tests in batch mode and
 * composes unchanged under Structured Streaming (all stages are stateless
 * narrow transforms — one WholeStageCodegen span, no shuffle).
 *
 * Operator inventory coverage (SURVEY.md §2.3):
 *   P1  cast binary→string        (`Real_Time_Data.py:45`)
 *   P2  from_json with schema     (`Real_Time_Data.py:83`)
 *   P3  explode(results)          (`Real_Time_Data.py:83`)
 *   P4  nested-field projection   (`Real_Time_Data.py:85-101`)
 *   P5  derived age (year diff)   (`Real_Time_Data.py:92`)
 *   P6  full_name concat_ws       (`Real_Time_Data.py:104`)
 *   P7  full_address concat_ws    (`Real_Time_Data.py:105`)
 *   P8  drop intermediates        (`Real_Time_Data.py:106`)
 *   P9  age threshold filter      (`Real_Time_Data.py:109`)
 *   P10 non-null key filter       (`Real_Time_Data.py:137`)
 *   P11 na.drop                   (`transformation_data-checkpoint.py:88`)
 *   P12 sha2 PII pseudonymization (imported but unused in the reference,
 *                                  `Real_Time_Data.py:4`; realized here)
 */
object Transforms {

  /** P1: Kafka-style binary `value` column → UTF-8 string. */
  def castValueToString(df: DataFrame): DataFrame =
    df.select(col("value").cast(StringType).as("value"))

  /** P2: parse the JSON envelope with the canonical schema (PERMISSIVE —
   * malformed input yields null columns, matching the reference). */
  def parseEnvelope(df: DataFrame): DataFrame =
    df.select(from_json(col("value"), RandomUserSchema.envelope).as("values"))

  /** P3: one output row per element of `results` (drops empty/null arrays,
   * matching `explode` semantics in the reference). */
  def explodeResults(df: DataFrame): DataFrame =
    df.select(explode(col("values.results")).as("r"))

  /**
   * P4–P8: flatten the nested struct into the 9-column profile row.
   *
   * `asOf` freezes the reference's `current_date()` so the derived age is
   * deterministic and oracle-testable; pass `current_date()` semantics via
   * `Transforms.flattenProfile(df, java.sql.Date.valueOf(LocalDate.now))`.
   *
   * Age semantics preserved exactly: year-difference, NOT true age
   * (`year(asOf) - year(dob.date)` — off by one before birthdays), per
   * `Real_Time_Data.py:92`.
   */
  def flattenProfile(df: DataFrame, asOf: Date): DataFrame =
    df.select(
      col("r.login.uuid").as("id"),
      col("r.login.username").as("username"),
      col("r.gender").as("gender"),
      col("r.name.title").as("title"),
      ageAsOf(col("r.dob.date"), asOf).as("age"),
      col("r.email").as("email"),
      col("r.registered.date").as("inscription"),
      concat_ws(" ", col("r.name.first"), col("r.name.last")).as("full_name"),
      concat_ws(" ",
        col("r.location.country"), col("r.location.state"),
        col("r.location.city"), col("r.location.street.number"),
        col("r.location.postcode")).as("full_address"))

  /** P5 as a reusable column: year-difference age (reference semantics),
   * for ISO-8601 string dob columns. */
  def ageAsOf(dobIso: Column, asOf: Date): Column =
    year(lit(asOf)) - year(to_date(dobIso))

  /** P5 for native date/timestamp columns — no string round-trip. */
  def ageAsOfDate(dob: Column, asOf: Date): Column =
    year(lit(asOf)) - year(dob)

  /** P9+P10: compliance filters — age strictly above threshold, non-null key. */
  def gdprFilter(df: DataFrame, minAge: Int = 18): DataFrame =
    df.filter(col("age") > minAge).filter(col("id").isNotNull)

  /** P11: drop any row containing a null (variant pipeline behavior). */
  def dropNullRows(df: DataFrame): DataFrame = df.na.drop()

  /** P12: PII pseudonymization — replace a column with its SHA-256 hex. */
  def pseudonymize(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, sha2(col(c).cast(StringType), 256)))

  /** Two-label public suffixes — a snapshot of the Mozilla Public Suffix
   * List's high-traffic ccTLD second-level families. A registrable domain
   * sits one label LEFT of its public suffix, so `a@b.co.uk` → `b`, not
   * `co`. */
  private val PublicSuffix2: Set[String] = Set(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "ltd.uk",
    "plc.uk", "nhs.uk", "police.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp", "gr.jp",
    "lg.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br", "adv.br",
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in", "ac.in",
    "edu.in", "gov.in", "res.in", "nic.in",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz", "geek.nz",
    "maori.nz", "iwi.nz",
    "co.za", "org.za", "web.za", "net.za", "gov.za", "ac.za", "edu.za",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.mx", "org.mx", "net.mx", "edu.mx", "gob.mx",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar",
    "com.tr", "net.tr", "org.tr", "edu.tr", "gov.tr", "gen.tr", "web.tr",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg", "per.sg",
    "com.my", "net.my", "org.my", "edu.my", "gov.my", "name.my",
    "co.kr", "or.kr", "ne.kr", "re.kr", "pe.kr", "go.kr", "ac.kr", "hs.kr",
    "ms.kr", "es.kr", "sc.kr", "kg.kr", "seoul.kr", "busan.kr",
    "co.th", "in.th", "ac.th", "go.th", "or.th", "net.th", "mi.th",
    "co.id", "or.id", "ac.id", "sch.id", "web.id", "net.id", "go.id",
    "my.id", "biz.id", "desa.id", "ponpes.id",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw", "club.tw",
    "ebiz.tw", "game.tw",
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "k12.il", "muni.il",
    "idf.il",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua", "kiev.ua",
    "kyiv.ua", "lviv.ua", "odessa.ua", "kharkov.ua",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "info.pl", "biz.pl",
    "waw.pl", "wroc.pl", "krakow.pl", "poznan.pl", "gda.pl", "slask.pl",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph", "ngo.ph", "mil.ph",
    "i.ph",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk", "fam.pk", "biz.pk",
    "web.pk", "gok.pk", "gob.pk", "gkp.pk", "gop.pk", "gos.pk",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa", "pub.sa",
    "sch.sa",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg", "sci.eg", "eun.eg",
    "name.eg", "mil.eg",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "int.vn", "ac.vn",
    "biz.vn", "info.vn", "name.vn", "pro.vn", "health.vn",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng", "name.ng", "sch.ng",
    "mobi.ng", "i.ng",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke", "me.ke",
    "mobi.ke", "info.ke",
    "co.tz", "or.tz", "ne.tz", "go.tz", "ac.tz", "sc.tz", "me.tz",
    "mobi.tz", "hotel.tz", "tv.tz", "info.tz",
    "co.ug", "or.ug", "ne.ug", "go.ug", "ac.ug", "sc.ug", "com.ug",
    "org.ug",
    "com.gh", "edu.gh", "gov.gh", "org.gh", "mil.gh",
    "co.zw", "org.zw", "gov.zw", "mil.zw", "ac.zw",
    "com.np", "net.np", "org.np", "edu.np", "gov.np", "mil.np", "aero.np",
    "asia.np", "biz.np", "coop.np", "info.np", "jobs.np", "mobi.np",
    "museum.np", "name.np", "pro.np", "travel.np",
    "com.bd", "net.bd", "org.bd", "edu.bd", "gov.bd", "ac.bd", "mil.bd",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    "com.pt", "net.pt", "org.pt", "edu.pt", "gov.pt", "int.pt", "publ.pt",
    "nome.pt",
    "com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr",
    "com.co", "net.co", "org.co", "nom.co", "edu.co", "gov.co", "mil.co",
    "info.co", "web.co", "firm.co", "rec.co", "arts.co", "int.co",
    "com.pe", "net.pe", "org.pe", "nom.pe", "edu.pe", "gob.pe", "mil.pe",
    "com.ve", "net.ve", "org.ve", "co.ve", "edu.ve", "gob.ve", "mil.ve",
    "info.ve", "web.ve", "e12.ve", "arts.ve", "firm.ve", "int.ve",
    "rec.ve", "store.ve", "tec.ve",
    "com.uy", "net.uy", "org.uy", "edu.uy", "gub.uy", "mil.uy",
    "com.py", "net.py", "org.py", "edu.py", "gov.py", "mil.py", "coop.py",
    "com.ec", "net.ec", "org.ec", "edu.ec", "gob.ec", "mil.ec", "med.ec",
    "fin.ec", "pro.ec", "info.ec",
    "com.bo", "net.bo", "org.bo", "edu.bo", "gob.bo", "mil.bo", "int.bo",
    "tv.bo", "web.bo",
    "com.do", "net.do", "org.do", "edu.do", "gob.do", "gov.do", "mil.do",
    "sld.do", "web.do", "art.do",
    "com.gt", "net.gt", "org.gt", "edu.gt", "gob.gt", "mil.gt", "ind.gt",
    "com.sv", "edu.sv", "gob.sv", "org.sv", "red.sv",
    "com.hn", "net.hn", "org.hn", "edu.hn", "gob.hn", "mil.hn",
    "com.ni", "net.ni", "org.ni", "edu.ni", "gob.ni", "mil.ni", "co.ni",
    "biz.ni", "info.ni", "int.ni", "web.ni",
    "com.pa", "net.pa", "org.pa", "edu.pa", "gob.pa", "sld.pa", "ing.pa",
    "abo.pa", "med.pa", "nom.pa", "ac.pa",
    "com.pr", "net.pr", "org.pr", "edu.pr", "gov.pr", "isla.pr", "pro.pr",
    "biz.pr", "info.pr", "name.pr", "est.pr", "prof.pr", "ac.pr",
    "asso.fr", "gouv.fr", "nom.fr", "prd.fr", "tm.fr", "avocat.fr",
    "port.fr", "cci.fr", "greta.fr",
    "co.at", "or.at", "ac.at", "gv.at", "priv.at",
    "com.ro", "org.ro", "tm.ro", "nt.ro", "nom.ro", "info.ro", "rec.ro",
    "arts.ro", "firm.ro", "store.ro", "www.ro",
    "com.ru", "net.ru", "org.ru", "int.ru", "ac.ru", "msk.ru", "spb.ru",
    "edu.ru", "gov.ru", "mil.ru", "test.ru")

  /** Three-label public suffixes — the structured PSL families:
   * `k12/cc/lib.<state>.us`, the Japanese prefecture/designated-city
   * blocks (`pref.hokkaido.jp`-class), and the Australian state
   * education/government registries. Generated, not hand-typed, so each
   * family is complete. */
  private val PublicSuffix3: Set[String] = {
    val usStates = Seq(
      "ak", "al", "ar", "as", "az", "ca", "co", "ct", "dc", "de", "fl",
      "ga", "gu", "hi", "ia", "id", "il", "in", "ks", "ky", "la", "ma",
      "md", "me", "mi", "mn", "mo", "ms", "mt", "nc", "nd", "ne", "nh",
      "nj", "nm", "nv", "ny", "oh", "ok", "or", "pa", "pr", "ri", "sc",
      "sd", "tn", "tx", "ut", "va", "vi", "vt", "wa", "wi", "wv", "wy")
    val usFamilies =
      for (s <- usStates; f <- Seq("k12", "cc", "lib")) yield s"$f.$s.us"
    val jpPrefectures = Seq(
      "aichi", "akita", "aomori", "chiba", "ehime", "fukui", "fukuoka",
      "fukushima", "gifu", "gunma", "hiroshima", "hokkaido", "hyogo",
      "ibaraki", "ishikawa", "iwate", "kagawa", "kagoshima", "kanagawa",
      "kochi", "kumamoto", "kyoto", "mie", "miyagi", "miyazaki", "nagano",
      "nagasaki", "nara", "niigata", "oita", "okayama", "okinawa", "osaka",
      "saga", "saitama", "shiga", "shimane", "shizuoka", "tochigi",
      "tokushima", "tokyo", "tottori", "toyama", "wakayama", "yamagata",
      "yamaguchi", "yamanashi")
    // The SEVEN wildcard designated cities (PSL `*.kobe.jp`-class rules)
    // are handled by WildcardParent2/ExceptionSuffix3 below, not listed
    // here; the remaining designated cities stay literal 3-label entries
    // (snapshot approximation, as before).
    val jpDesignatedCities = Seq(
      "chiba", "fukuoka", "hamamatsu", "hiroshima", "kumamoto", "kyoto",
      "niigata", "okayama", "osaka", "sagamihara", "saitama", "sakai",
      "shizuoka")
    val jpFamilies = jpPrefectures.map(p => s"pref.$p.jp") ++
      jpDesignatedCities.map(c => s"city.$c.jp") ++ Seq("metro.tokyo.jp")
    val auStates = Seq("act", "nsw", "nt", "qld", "sa", "tas", "vic", "wa")
    val auFamilies = auStates.flatMap(s => Seq(s"$s.edu.au", s"$s.gov.au"))
    (usFamilies ++ jpFamilies ++ auFamilies).toSet
  }

  /** PSL wildcard cities: the seven Japanese designated cities the PSL
   * covers with a `*.<city>.jp` rule (every third label forms a public
   * suffix) plus a paired `!city.<city>.jp` EXCEPTION (see
   * [[ExceptionSuffix3]]). */
  private val JpWildcardCities: Seq[String] = Seq(
    "kawasaki", "kitakyushu", "kobe", "nagoya", "sapporo", "sendai",
    "yokohama")

  /** Wildcard-parent suffixes (`*.sch.uk` / `*.kobe.jp`-class PSL rules):
   * EVERY third label under these forms a public suffix, so the
   * registrable domain sits one further label left. */
  private val WildcardParent2: Set[String] =
    ("sch.uk" +: JpWildcardCities.map(c => s"$c.jp")).toSet

  /** PSL `!`-EXCEPTION rules: hosts matching a wildcard whose 3-label tail
   * is listed here are REGISTRABLE after all — the exception cancels the
   * wildcard, the public suffix is the exception minus its leftmost label,
   * and that leftmost label is the domain (`a@www.city.kobe.jp` → `city`,
   * the registered domain being `city.kobe.jp`). This is the PSL
   * algorithm's "exception rules win over all other matching rules". */
  private val ExceptionSuffix3: Set[String] =
    JpWildcardCities.map(c => s"city.$c.jp").toSet

  /** A3 helper: registered-domain extraction from an email address
   * (`user@mail.example.com` → `example`). Matches
   * `tldextract.extract().domain` for single-label TLDs, the two-label
   * public suffixes above (`a@b.co.uk` → `b`), the three-label PSL
   * families (`a@b.pref.hokkaido.jp` → `b`, `a@b.k12.ca.us` → `b`), the
   * `*.sch.uk`/`*.kobe.jp` wildcard rules, and the `!city.kobe.jp`-class
   * exception rules (exception wins: the host's `city` label IS the
   * domain); suffix-only hosts degrade to the suffix's first label, as no
   * registrable domain exists. Longest suffix match wins, exceptions
   * first, per the PSL algorithm. */
  def emailDomain(email: Column): Column = {
    val host = substring_index(email, "@", -1)
    RegisteredDomain(host, lower(host))
  }

  /** [[emailDomain]]'s suffix match on a host, given also in lower case.
   * One expression node whose suffix sets stay JVM `Set`s, so that no plan
   * using it carries the hundreds of suffixes as literals for the analyzer
   * and optimizer to walk. Lower-casing neither adds nor removes a `.`, so
   * the tails of `lowerHost` are the lower-cased tails of `host`. */
  private val RegisteredDomain = udf { (host: String, lowerHost: String) =>
    if (host == null) null
    else {
      val last2 = lastLabels(lowerHost, 2)
      val last3 = lastLabels(lowerHost, 3)
      val labels =
        if (ExceptionSuffix3(last3)) 3
        else if (PublicSuffix3(last3) || WildcardParent2(last2)) 4
        else if (PublicSuffix2(last2)) 3
        else 2
      lastLabels(host, labels).takeWhile(_ != '.')
    }
  }

  /** `substring_index(s, ".", -n)`: the last `n` labels of `s`, or all of
   * `s` when it has fewer. */
  private def lastLabels(s: String, n: Int): String = {
    var i = s.length
    for (_ <- 1 to n) i = s.lastIndexOf('.', i - 1)
    s.substring(i + 1)
  }

  /** The full E1 chain: raw Kafka-shaped rows → filtered 9-column profiles. */
  def etlSpine(raw: DataFrame, asOf: Date, minAge: Int = 18): DataFrame = {
    val parsed = parseEnvelope(castValueToString(raw))
    gdprFilter(flattenProfile(explodeResults(parsed), asOf), minAge)
  }

  /** The spine as a TYPED dataset — `Dataset[UserProfile]` under the
   * case-class Encoder, the type-safe handoff for downstream Scala code
   * (compile-checked field access; the plan is identical to [[etlSpine]],
   * the Encoder only types the boundary). */
  def etlSpineTyped(raw: DataFrame, asOf: Date, minAge: Int = 18)
      : org.apache.spark.sql.Dataset[graft.schema.UserProfile] = {
    val spark = raw.sparkSession
    import spark.implicits._
    etlSpine(raw, asOf, minAge).as[graft.schema.UserProfile]
  }
}
