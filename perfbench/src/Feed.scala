package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded generator of a dirty monthly sales feed in the reference's
  * CSV layout (`Order ID,Product,Quantity Ordered,Price Each,Order
  * Date,Purchase Address`), plus the record of what it planted. The
  * benchmark checks the ETL's outputs against that record, never
  * against the program's own answer.
  *
  * Planted dirt: repeated header lines and `,,,,,` lines (both route to
  * `invalid`) and exact duplicate order lines (removed by the cleanse
  * DISTINCT). Every product has one price, as in the reference's
  * January file, so product versions equal products.
  */
final case class FeedShape(
    orders: Int, multiItemOrders: Int, addresses: Int, products: Int,
    days: Int, headers: Int, blanks: Int, duplicates: Int)

/** What the feed holds, and so what the ETL must produce. */
final case class FeedRecord(
    invalid: Long, cleansed: Long, locations: Long,
    days: Long, productVersions: Long, factRows: Long, quantity: Long,
    revenueCents: Long, cities: Long)

object Feed {

  val header = "Order ID,Product,Quantity Ordered,Price Each,Order Date,Purchase Address"

  /** The reference file's 10 (city, state) pairs, Portland OR and ME
    * included. */
  private val cities = Seq(
    ("San Francisco", "CA", "94016"), ("Los Angeles", "CA", "90001"),
    ("New York City", "NY", "10001"), ("Boston", "MA", "02215"),
    ("Atlanta", "GA", "30301"), ("Dallas", "TX", "75001"),
    ("Seattle", "WA", "98101"), ("Portland", "OR", "97035"),
    ("Portland", "ME", "04101"), ("Austin", "TX", "73301"))

  /** The reference file's 19 products, price in cents. */
  private val catalog = Seq(
    "USB-C Charging Cable" -> 1195L, "Lightning Charging Cable" -> 1495L,
    "AAA Batteries (4-pack)" -> 299L, "AA Batteries (4-pack)" -> 384L,
    "Wired Headphones" -> 1199L, "Apple Airpods Headphones" -> 15000L,
    "Bose SoundSport Headphones" -> 9999L, "27in FHD Monitor" -> 14999L,
    "iPhone" -> 70000L, "34in Ultrawide Monitor" -> 37999L,
    "Google Phone" -> 60000L, "Flatscreen TV" -> 30000L,
    "Macbook Pro Laptop" -> 170000L, "ThinkPad Laptop" -> 99999L,
    "20in Monitor" -> 10999L, "Vareebadd Phone" -> 40000L,
    "LG Washing Machine" -> 60000L, "LG Dryer" -> 60000L,
    "27in 4K Gaming Monitor" -> 38999L)

  private val streets = Seq("Main", "Park", "Oak", "Pine", "Maple", "Cedar",
    "Elm", "View", "Washington", "Lake", "Hill", "Walnut", "Spruce",
    "Jackson", "Church", "Highland", "Adams", "Lincoln", "Johnson",
    "Forest", "1st", "2nd", "3rd", "4th", "5th", "6th", "7th", "8th",
    "9th", "10th", "11th", "12th", "13th", "14th", "15th")

  /** "(city, state)" of a rendered address. */
  private def cityOf(address: String): (String, String) = {
    val parts = address.split(", ")
    (parts(1), parts(2).split(" ")(0))
  }

  private final case class Line(orderId: Int, product: Int, qty: Int,
      day: Int, minute: Int, address: Int)

  /** Write the feed to `path` and return what it planted. */
  def write(path: Path, shape: FeedShape, seed: Long): FeedRecord = {
    require(shape.products <= catalog.size, s"at most ${catalog.size} products")
    val rnd = new SplittableRandom(seed)
    val products = catalog.take(shape.products)
    val addresses = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < shape.addresses) {
        val (city, state, postal) = cities(rnd.nextInt(cities.size))
        val street = s"${1 + rnd.nextInt(999)} ${streets(rnd.nextInt(streets.size))} St"
        seen += s"$street, $city, $state $postal"
      }
      seen.toIndexedSeq
    }

    // Order lines. The first and last orders pin the day span, so the
    // time dimension always covers exactly `days` days.
    val usedCells = scala.collection.mutable.HashSet.empty[(Int, Int, Int)]
    val lines = scala.collection.mutable.ArrayBuffer.empty[Line]
    val multi = {
      val picked = scala.collection.mutable.HashSet.empty[Int]
      while (picked.size < math.min(shape.multiItemOrders, shape.orders))
        picked += rnd.nextInt(shape.orders)
      picked
    }
    var orderId = 141234
    for (o <- 0 until shape.orders) {
      orderId += 1 + (if (rnd.nextInt(8) == 0) 1 else 0)
      val day =
        if (o == 0) 0 else if (o == shape.orders - 1) shape.days - 1
        else rnd.nextInt(shape.days)
      val minute = rnd.nextInt(24 * 60)
      var address = rnd.nextInt(shape.addresses)
      val nItems = if (multi(o)) 2 + rnd.nextInt(2) else 1
      val items = rnd.ints(0, shape.products).distinct()
        .limit(math.min(nItems, shape.products).toLong).toArray
      // one order line per (day, product, address) cell, as in the
      // reference's file: the dense fact is then exactly the cube
      var tries = 0
      while (items.exists(p => usedCells((day, p, address))) && tries < 1000) {
        address = rnd.nextInt(shape.addresses); tries += 1
      }
      require(tries < 1000, "feed shape has too few free cells")
      items.foreach(p => usedCells += ((day, p, address)))
      items.foreach { p =>
        val qty = if (rnd.nextInt(10) == 0) 2 + rnd.nextInt(3) else 1
        lines += Line(orderId, p, qty, day, minute, address)
      }
    }

    def render(l: Line): String = {
      val date = java.time.LocalDate.of(2019, 1, 1).plusDays(l.day.toLong)
      val ts = f"${date.getMonthValue}%02d/${date.getDayOfMonth}%02d/" +
        f"${date.getYear % 100}%02d ${l.minute / 60}%02d:${l.minute % 60}%02d"
      val (name, cents) = products(l.product)
      val price = if (cents % 100 == 0) (cents / 100).toString
        else f"${cents / 100}.${cents % 100}%02d"
      s"""${l.orderId},$name,${l.qty},$price,$ts,"${addresses(l.address)}""""
    }

    // body = every order line once, plus the planted dirt at seeded
    // positions: duplicate copies of existing lines, headers, blanks
    val body = scala.collection.mutable.ArrayBuffer.from(lines.map(render))
    val dupSources = rnd.ints(0, lines.size).distinct()
      .limit(shape.duplicates.toLong).toArray.map(i => body(i))
    val dirt = dupSources.toSeq ++ Seq.fill(shape.headers)(header) ++
      Seq.fill(shape.blanks)(",,,,,")
    dirt.foreach(d => body.insert(rnd.nextInt(body.size + 1), d))
    Files.createDirectories(path.getParent)
    Files.write(path, (header +: body).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))

    // The record: what a correct ETL produces from this feed.
    val locations = lines.map(_.address).distinct.size.toLong
    val versions = lines.map(_.product).distinct.size.toLong
    FeedRecord(
      invalid = (shape.headers + shape.blanks).toLong,
      cleansed = lines.size.toLong,
      locations = locations,
      days = shape.days.toLong,
      productVersions = versions,
      factRows = shape.days.toLong * versions * locations,
      quantity = lines.map(_.qty.toLong).sum,
      revenueCents = lines.map(l => l.qty * products(l.product)._2).sum,
      cities = lines.map(l => cityOf(addresses(l.address))).distinct.size.toLong)
  }
}
