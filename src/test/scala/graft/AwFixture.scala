package graft

import java.nio.file.Files
import org.apache.spark.sql.types.StructType
import graft.etl.aw.AwSchemas

/** A hand-picked AdventureWorks extract: the nine snapshot CSVs (every
  * input but Person Person and SalesOrderHeader/Detail, which
  * `AwRun` stands in for), a few rows each, with the FIXTURES.md edge
  * cases the DAGs repair: null `ProductSubcategoryID`, null `PersonID`,
  * quoted strings holding a comma, and empty strings read as null.
  */
object AwFixture {

  /** One CSV line of `schema`: the given columns' raw CSV text (quotes
    * included), every other column empty.
    */
  private def line(schema: StructType, fields: (String, String)*): String = {
    val m = fields.toMap
    require(m.keySet.subsetOf(schema.fieldNames.toSet), m.keySet -- schema.fieldNames)
    schema.fieldNames.map(m.getOrElse(_, "")).mkString(",")
  }

  private def files: Seq[(String, StructType, Seq[Seq[(String, String)]])] = Seq(
    ("Production ProductCategory", AwSchemas.productCategory, Seq(
      Seq("ProductCategoryID" -> "1", "Name" -> "Bikes"),
      Seq("ProductCategoryID" -> "3", "Name" -> "\"Clothing, Apparel\""),
      Seq("ProductCategoryID" -> "4", "Name" -> "Accessories"))),
    ("Production ProductSubcategory", AwSchemas.productSubcategory, Seq(
      Seq("ProductSubcategoryID" -> "1", "ProductCategoryID" -> "1", "Name" -> "Mountain Bikes"),
      Seq("ProductSubcategoryID" -> "21", "ProductCategoryID" -> "3", "Name" -> "Jerseys"),
      Seq("ProductSubcategoryID" -> "31", "ProductCategoryID" -> "4", "Name" -> "Helmets"))),
    ("Production Product", AwSchemas.product, Seq(
      // no subcategory and no color: both repaired
      Seq("ProductID" -> "1", "Name" -> "Adjustable Race", "ListPrice" -> "0"),
      Seq("ProductID" -> "707", "Name" -> "\"Sport-100 Helmet, Red\"",
        "Color" -> "Red", "ProductSubcategoryID" -> "31"),
      Seq("ProductID" -> "714", "Name" -> "Long-Sleeve Logo Jersey",
        "Color" -> "\"\"", "ProductSubcategoryID" -> "21"),
      Seq("ProductID" -> "771", "Name" -> "\"Mountain-100 Silver, 38\"",
        "Color" -> "Silver", "ProductSubcategoryID" -> "1"))),
    ("Sales Customer", AwSchemas.customer, Seq(
      Seq("CustomerID" -> "11000", "PersonID" -> "13531", "TerritoryID" -> "9"),
      Seq("CustomerID" -> "11001", "PersonID" -> "5454", "TerritoryID" -> "9"),
      // a store customer: no person
      Seq("CustomerID" -> "29484", "StoreID" -> "292", "TerritoryID" -> "5",
        "AccountNumber" -> "AW00029484"))),
    ("Person CountryRegion", AwSchemas.countryRegion, Seq(
      Seq("CountryRegionCode" -> "CA", "Name" -> "Canada"),
      Seq("CountryRegionCode" -> "KR", "Name" -> "\"Korea, Republic of\""),
      Seq("CountryRegionCode" -> "US", "Name" -> "United States"))),
    ("Person StateProvince", AwSchemas.stateProvince, Seq(
      Seq("StateProvinceID" -> "1", "CountryRegionCode" -> "CA", "Name" -> "Alberta"),
      Seq("StateProvinceID" -> "79", "CountryRegionCode" -> "US", "Name" -> "Washington"),
      Seq("StateProvinceID" -> "180", "CountryRegionCode" -> "KR", "Name" -> "Seoul"))),
    ("Person Address", AwSchemas.address, Seq(
      Seq("AddressID" -> "1", "AddressLine1" -> "1970 Napa Ct.", "City" -> "Bothell",
        "StateProvinceID" -> "79"),
      Seq("AddressID" -> "9", "AddressLine1" -> "\"8291 Crossbow Way, Apt 2\"",
        "City" -> "\"\"", "StateProvinceID" -> "1"),
      Seq("AddressID" -> "25", "AddressLine1" -> "9178 Jumping St.", "City" -> "Seoul",
        "StateProvinceID" -> "180"),
      // a state the extract lacks: both geo levels repaired
      Seq("AddressID" -> "40", "AddressLine1" -> "42 Nowhere Rd.", "City" -> "Limbo",
        "StateProvinceID" -> "999"))),
    ("Sales SalesPerson", AwSchemas.salesPerson, Seq(
      Seq("BusinessEntityID" -> "274", "Bonus" -> "0"),
      Seq("BusinessEntityID" -> "275", "TerritoryID" -> "2", "Bonus" -> "4100"),
      Seq("BusinessEntityID" -> "276", "TerritoryID" -> "4", "Bonus" -> "2000"))),
    ("HumanResources Employee", AwSchemas.employee, Seq(
      Seq("BusinessEntityID" -> "1", "JobTitle" -> "Chief Executive Officer"),
      Seq("BusinessEntityID" -> "274", "JobTitle" -> "North American Sales Manager"),
      Seq("BusinessEntityID" -> "275", "JobTitle" -> "Sales Representative"),
      Seq("BusinessEntityID" -> "276", "JobTitle" -> "Sales Representative"))))

  /** The directory holding the nine CSVs, written once per JVM. */
  lazy val csvDir: String = {
    val dir = Scratch.tempDir("graft_aw_fixture")
    files.foreach { case (name, schema, rows) =>
      Files.writeString(dir.resolve(s"$name.csv"),
        (schema.fieldNames.mkString(",") +: rows.map(line(schema, _: _*)))
          .mkString("", "\n", "\n"))
    }
    dir.toString
  }
}
