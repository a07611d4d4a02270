package graft.candy

import java.nio.file.Files
import scala.util.Random

/** A seeded candy-store input for the end-to-end candy specs: 12
  * products with small stocks (exhaustion mid-day), an unknown product
  * id 13, null quantities, repeated products within an order, 4 days ×
  * 60 transactions. Seeded, so every copy is identical. */
object CandyFixture {

  private lazy val files: Seq[(String, String)] = {
    val rnd = new Random(7)
    val products = (1 to 12).map { p =>
      val price = 1 + rnd.nextInt(900) / 100.0
      f"$p,P$p,Cat,Sub,Std,$price%.2f,${price / 2}%.2f,${5 + rnd.nextInt(30)}"
    }
    val header = "product_id,product_name,product_category,product_subcategory," +
      "product_shape,sales_price,cost_to_make,stock"
    val days = (1 to 4).map { day =>
      val txns = (1 to 60).map { i =>
        val items = (1 to 1 + rnd.nextInt(4)).map { _ =>
          val p = 1 + rnd.nextInt(13)
          val qty = if (rnd.nextInt(10) == 0) "null" else (1 + rnd.nextInt(6)).toString
          s"""{"product_id": $p, "product_name": "P$p", "qty": $qty}"""
        }
        f"""{"transaction_id": ${day * 1000 + i}, "customer_id": ${1 + rnd.nextInt(20)}, """ +
          f""""timestamp": "2024-01-0${day}T${i / 6}%02d:${i % 60}%02d:00.${i}%06d", """ +
          s""""items": [${items.mkString(", ")}]}"""
      }
      s"transactions_2024010$day.json" -> txns.mkString("[\n", ",\n", "\n]")
    }
    ("products.csv" -> (header +: products).mkString("", "\n", "\n")) +: days
  }

  /** Writes a fresh copy into a new temp directory and returns it; the
    * inputs are `products.csv` and `transactions_*.json` in it. */
  def write(): String = {
    val d = Files.createTempDirectory("candy_fixture")
    files.foreach { case (name, body) => Files.writeString(d.resolve(name), body) }
    d.toString
  }
}
