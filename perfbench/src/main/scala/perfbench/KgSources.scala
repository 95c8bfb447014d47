package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import graft.queries.Fixtures
import graft.queries.ReferenceMappings._

import perfbench.Json.{str => q}

/** Seeded generator of the five KG source extracts (FIXTURES.md shapes).
  *
  * Copy `i` replicates the fixture organisation set: three LDAP
  * organisations (one with a nested unit), one Teamleader company with
  * its ten custom fields, two Teamleader users and one MAM tenant. Every
  * identifying string (OR-ids, user ids, street numbers, e-mail
  * addresses) embeds the copy tag, so no two copies mint the same target
  * IRI. The ten custom-field definitions (`Fixtures.customFieldDocs`)
  * are a shared dimension table, as in the source system.
  *
  * Copy `i` has shape variant `i % Variants`. The variants cover every
  * LDAP `businessCategory`, both `objectClass` encodings, and present
  * or absent optional fields (address parts, sector, unit, website
  * scheme, responsible user, fax number, two custom fields). The seed
  * picks the display values (names, streets, postal codes, sectors); it
  * never changes which fields a variant has. Values the mappings turn
  * into IRIs (the user's function, with URI-hostile characters, and the
  * classification type) also carry the copy tag, so no target quad is
  * shared between copies: every block of `Variants` consecutive copies
  * yields the same number of target quads per predicate, for any seed.
  */
object KgSources {

  val Variants = 4

  /** One source extract: file name, staging graph. */
  val files: Seq[(String, String)] = Seq(
    "ldap.jsonl" -> gLdap,
    "tl_companies.jsonl" -> gTlCompanies,
    "tl_custom_fields.jsonl" -> gTlCustomFields,
    "tl_users.jsonl" -> gTlUsers,
    "mam_tenants.jsonl" -> gMamTenants)

  private val streets = Seq("Kerkstraat", "Stationsstraat", "Molenstraat",
    "Dorpsstraat", "Schoolstraat", "Nieuwstraat", "Kapelstraat", "Veldstraat")
  private val cities = Seq("Gent" -> "Oost-Vlaanderen", "Brugge" -> "West-Vlaanderen",
    "Leuven" -> "Vlaams-Brabant", "Hasselt" -> "Limburg",
    "Antwerpen" -> "Antwerpen", "Mechelen" -> "Antwerpen")
  private val sectors = Seq("Cultuur", "Erfgoed", "Media", "Onderwijs")
  private val words = Seq("Archief", "Museum", "Bibliotheek", "Omroep",
    "Collectie", "Erfgoedcel", "Theater", "Huis")
  private val functions = Seq("Account manager", "Conseillère générale",
    "Data & Archief", "Hoofd collectie/beheer (ad interim)")

  /** A JSON object of already-rendered values. */
  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => q(k) + ": " + v }.mkString("{", ", ", "}")

  /** The OR-ids of copy `i`: main LDAP org, school, educational org,
    * Teamleader company. The MAM tenant carries the main org's id. */
  def orids(i: Int): Seq[String] = {
    val tag = f"$i%06d"
    Seq(s"OR-${tag}m", s"OR-${tag}s", s"OR-${tag}e", s"OR-${tag}t")
  }

  /** Source records of copy `i`, per file name (one JSON document each). */
  def copy(seed: Long, i: Int): Map[String, Seq[String]] = {
    val rnd = new java.util.Random(seed * 1000003L + i)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val v = i % Variants
    val tag = f"$i%06d"
    val Seq(orMain, orSchool, orEdu, orTl) = orids(i)
    val (city, region) = pick(cities)
    val postal = (1000 + rnd.nextInt(9000)).toString
    val name = s"${pick(words)} ${pick(words)} $tag"

    val category = Seq("Content Partner", "Service Provider", "Customer",
      "Content Partner")(v)
    val objectClass =
      if (v % 2 == 0) """["top", "organization"]""" else q("organization")
    val mainAttrs = Seq(
      Some("objectClass" -> objectClass), Some("o" -> q(orMain)),
      Some("description" -> q(name)), Some("businessCategory" -> q(category)),
      Option.when(v != 2)("street" -> q(s"${pick(streets)} ${i + 1}")),
      Some("postalCode" -> q(postal)), Some("l" -> q(city)),
      Option.when(v != 1)("st" -> q(region)),
      Option.when(v != 1)("x-be-viaa-sector" -> q(pick(sectors)))).flatten
    val unit = Option.when(v != 3)("units" -> obj("attributes" -> obj(Seq(
      Some("objectClass" -> q("organizationalUnit")),
      Some("ou" -> q(s"$orMain-unit")),
      Some("description" -> q(s"Dienst ${pick(words)} $tag")),
      Some("street" -> q(s"Unitstraat ${i + 1}")),
      Some("postalCode" -> q(postal)), Some("l" -> q(city)),
      Option.when(v == 0)("st" -> q(region)),
      Option.when(v == 0)("x-be-viaa-sector" -> q(pick(sectors)))).flatten: _*)))
    val ldap = Seq(
      obj(Seq("attributes" -> obj(mainAttrs: _*)) ++ unit.toSeq: _*),
      obj("attributes" -> obj("objectClass" -> q("organization"), "o" -> q(orSchool),
        "description" -> q(s"School $tag"), "businessCategory" -> q("School"))),
      obj("attributes" -> obj("objectClass" -> q("x-be-viaa-educationalOrganization"),
        "o" -> q(orEdu), "description" -> q(s"Edu $tag"))))

    val site = s"x$tag.example.be"
    val website = v match {
      case 0 => Some(q(s"www.$site"))
      case 1 => Some(q(s"https://$site"))
      case 2 => None
      case _ => Some(q(s"http://$site"))
    }
    def cf(id: String, value: String) = obj("value" -> value, "definition" -> obj("id" -> q(id)))
    val fields = Seq(
      Some(cf("cf-orid", q(orTl))), Some(cf("cf-status", q(if (v == 1) "nee" else "ja"))),
      Some(cf("cf-omsch", q(s"Beschrijving van $name"))),
      Some(cf("cf-class", q(s"${1 + v} - Type - ${pick(words)} $tag Instelling"))),
      Some(cf("cf-overlay", (v != 2).toString)), Some(cf("cf-bzt", (v == 0).toString)),
      Some(cf("cf-email-onts", q(s"onts@$site"))),
      Some(cf("cf-tel-onts", q(s"+3290${tag}0"))),
      Option.when(v != 2)(cf("cf-email-fact", q(s"fact@$site"))),
      Option.when(v != 2)(cf("cf-form", q(s"https://forms.example.be/$tag")))).flatten
    val phones = Seq(Some(obj("type" -> q("primary"), "number" -> q(s"+3291${tag}"))),
      Option.when(v <= 1)(obj("type" -> q("fax"), "number" -> q(s"+3292${tag}")))).flatten
    val company = obj(Seq(
      Some("name" -> q(s"$name BV")),
      website.map("website" -> _),
      Some("addresses" -> Seq(obj("type" -> q("primary"), "address" -> obj(
        "line_1" -> q(s"${pick(streets)} ${i + 1}A"), "postal_code" -> q(postal),
        "city" -> q(city), "country" -> q("BE")))).mkString("[", ", ", "]")),
      Some("emails" -> Seq(obj("type" -> q("primary"), "email" -> q(s"info@$site")))
        .mkString("[", ", ", "]")),
      Some("telephones" -> phones.mkString("[", ", ", "]")),
      Option.when(v != 2)("responsible_user" -> obj("id" -> q(s"u-$tag-1"))),
      Some("custom_fields" -> fields.mkString("[", ", ", "]"))).flatten: _*)

    val users = Seq(
      obj("id" -> q(s"u-$tag-1"), "first_name" -> q("An"), "last_name" -> q(s"Peeters $tag"),
        "email" -> q(s"an.$tag@meemoo.be"),
        "telephones" -> Seq(obj("type" -> q("mobile"), "number" -> q(s"+32470$tag")))
          .mkString("[", ", ", "]"),
        "function" -> q(s"${functions(v)} $tag")),
      obj("id" -> q(s"u-$tag-2"), "first_name" -> q("Jan"), "last_name" -> q(s"Janssens $tag"),
        "email" -> q(s"jan.$tag@meemoo.be")))
    val mam = Seq(Seq(obj("Name" -> q(s"Tenant $name"), "ExternalId" -> q(orMain)))
      .mkString("[", ", ", "]"))

    Map("ldap.jsonl" -> ldap, "tl_companies.jsonl" -> Seq(company),
      "tl_users.jsonl" -> users, "mam_tenants.jsonl" -> mam)
  }

  /** Write the extracts of `copies` into `dir` (one JSONL file per
    * source); returns the number of source records written. */
  def write(dir: String, seed: Long, copies: Seq[Int]): Long = {
    new File(dir).mkdirs()
    val writers = files.map { case (f, _) =>
      f -> new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, f)), StandardCharsets.UTF_8), 1 << 16)
    }.toMap
    var records = 0L
    try {
      Fixtures.customFieldDocs.foreach { d =>
        writers("tl_custom_fields.jsonl").write(d + "\n")
        records += 1
      }
      copies.foreach { i =>
        copy(seed, i).foreach { case (f, docs) =>
          docs.foreach { d => writers(f).write(d.replace('\n', ' ') + "\n"); records += 1 }
        }
      }
    } finally writers.values.foreach(_.close())
    records
  }
}
