"""Olist-shaped raw CSVs for the olist_etl workload, made from a seed.

The shapes follow the public Olist dump: about 1.11 items and 1.04 payments
per order, a review for 19 orders in 20, one customer row per order,
sellers = orders / 30, products = orders / 3 and geolocation = 10 x orders
rows (the dim_locations dedup dominates, as on the real data). Every key is
an md5 of the seed, the key kind and the row number, so each seed gives
different keys and the same row counts.
"""
import csv
import datetime
import hashlib
import os

CITIES = ["sao paulo", "rio de janeiro", "belo horizonte", "brasilia", "curitiba",
          "campinas", "porto alegre", "salvador", "guarulhos", "fortaleza", "niteroi", "santos"]
STATES = sorted(["AC", "AL", "AP", "AM", "BA", "CE", "DF", "ES", "GO", "MA", "MT", "MS", "MG",
                 "PA", "PB", "PR", "PE", "PI", "RJ", "RN", "RS", "RO", "RR", "SC", "SP", "SE",
                 "TO"])
CATEGORIES = ["cama_mesa_banho", "beleza_saude", "esporte_lazer", "moveis_decoracao",
              "informatica_acessorios", "utilidades_domesticas", "relogios_presentes",
              "telefonia", "ferramentas_jardim", "automotivo", "brinquedos", "cool_stuff",
              "perfumaria", "bebes", "eletronicos", "papelaria", "fashion_bolsas_e_acessorios"]
PAY_TYPES = ["credit_card", "credit_card", "credit_card", "boleto", "voucher", "debit_card"]
EPOCH = datetime.datetime(2017, 1, 1)


def generate(out_dir, seed, orders):
    """Writes the nine CSVs into out_dir; returns the number of order items."""
    os.makedirs(out_dir, exist_ok=True)
    sellers = max(100, orders // 30)
    products = max(1000, orders // 3)

    def key(kind, i):
        return hashlib.md5(f"{seed}:{kind}:{i}".encode()).hexdigest()

    def ts(i, lag_hours):
        return (EPOCH + datetime.timedelta(hours=i % 17000 + lag_hours)).strftime("%Y-%m-%d %H:%M:%S")

    def zip5(i):
        return f"{i % 20000:05d}"

    def write(name, header, rows):
        with open(os.path.join(out_dir, name), "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(header)
            w.writerows(rows)

    order_ids = [key("o", i) for i in range(orders)]
    customer_ids = [key("c", i) for i in range(orders)]
    product_ids = [key("p", i) for i in range(products)]
    seller_ids = [key("s", i) for i in range(sellers)]

    write("olist_orders_dataset.csv",
          ["order_id", "customer_id", "order_status", "order_purchase_timestamp",
           "order_approved_at", "order_delivered_carrier_date",
           "order_delivered_customer_date", "order_estimated_delivery_date"],
          ([order_ids[i], customer_ids[i],
            "delivered" if i % 20 < 18 else ("shipped" if i % 20 == 18 else "canceled"),
            ts(i, 0), ts(i, 1),
            ts(i, 48) if i % 20 < 18 else "",
            ts(i, 96 + i % 300) if i % 20 < 18 else "",
            ts(i, 240)] for i in range(orders)))

    items = [(i, n) for i in range(orders)
             for n in range(1, 1 + (3 if i % 100 == 0 else 2 if i % 10 == 0 else 1))]
    write("olist_order_items_dataset.csv",
          ["order_id", "order_item_id", "product_id", "seller_id", "shipping_limit_date",
           "price", "freight_value"],
          ([order_ids[i], n, product_ids[(i * 7 + n) % products],
            seller_ids[(i * 13 + n) % sellers], ts(i, 120),
            f"{20.0 + (i % 400) / 2.0 + n:.2f}", f"{8.0 + (i % 40) / 4.0:.2f}"]
           for i, n in items))

    write("olist_order_payments_dataset.csv",
          ["order_id", "payment_sequential", "payment_type", "payment_installments",
           "payment_value"],
          ([order_ids[i], s, PAY_TYPES[(i + s) % 6], i % 10 + 1,
            f"{25.0 + (i % 420) / 2.0 + s * 3:.2f}"]
           for i in range(orders) for s in range(1, 3 if i % 25 == 0 else 2)))

    write("olist_order_reviews_dataset.csv",
          ["review_id", "order_id", "review_score", "review_creation_date",
           "review_answer_timestamp"],
          ([key("r", i), order_ids[i], i % 5 + 1, ts(i, 100), ts(i, 130)]
           for i in range(orders) if i % 20 != 7))

    write("olist_customers_dataset.csv",
          ["customer_id", "customer_unique_id", "customer_zip_code_prefix", "customer_city",
           "customer_state"],
          ([customer_ids[i], key("cu", i % (orders * 95 // 100 + 1)), zip5(i * 31),
            CITIES[i * 31 % len(CITIES)], STATES[i * 31 % len(STATES)]]
           for i in range(orders)))

    write("olist_sellers_dataset.csv",
          ["seller_id", "seller_zip_code_prefix", "seller_city", "seller_state"],
          ([seller_ids[i], zip5(i * 37), CITIES[i * 37 % len(CITIES)],
            STATES[i * 37 % len(STATES)]] for i in range(sellers)))

    write("olist_geolocation_dataset.csv",
          ["geolocation_zip_code_prefix", "geolocation_lat", "geolocation_lng",
           "geolocation_city", "geolocation_state"],
          ([zip5(i), f"{-23.5 + (i % 2000) / 100.0:.6f}", f"{-46.6 + (i % 3000) / 100.0:.6f}",
            CITIES[i % len(CITIES)], STATES[i % len(STATES)]] for i in range(orders * 10)))

    write("olist_products_dataset.csv",
          ["product_id", "product_category_name", "product_name_lenght",
           "product_description_lenght", "product_photos_qty", "product_weight_g",
           "product_length_cm", "product_height_cm", "product_width_cm"],
          ([product_ids[i], CATEGORIES[i % len(CATEGORIES)], i % 60 + 5, i % 900 + 50,
            i % 6 + 1, i % 9000 + 100, i % 90 + 10, i % 60 + 5, i % 50 + 8]
           for i in range(products)))

    write("product_category_name_translation.csv",
          ["product_category_name", "product_category_name_english"],
          ([c, c.replace("_", " ")] for c in CATEGORIES))
    return len(items)
