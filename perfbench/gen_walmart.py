"""Seeded generator of walmart-schema retail CSVs for the etl_batch workload.

Writes two batches:

* batch 1 - an initial population of products, customers and cities and
  `rows` sales lines over them;
* batch 2 - batch 1's lines in the same order with a change set applied
  (re-priced products, cities moved to a new state/zip, re-segmented
  customers), followed by new lines that also bring new products,
  customers and cities.

Columns follow `graft.etl.CsvSource.schema` in order: the reader binds
its explicit schema by position, so the header order is load-bearing.
Values use RFC4180 quoting (embedded `"` doubled), product names carry
`"` and `™`, some `Customer Age` and `Product Base Margin` cells are
empty, and dates are `M/d/yyyy`.

Within one batch every product has one unit price and one margin, and
every city one state/zip/region, so each SCD2 dimension key has exactly
one staging row and the expected number of new versions after batch 2
is the size of the change set. The change counts are written to
`truth.json` next to the CSVs.

Usage: python3 gen_walmart.py <out_dir> <seed> <rows> <days>
"""

import csv
import datetime
import json
import os
import random
import sys

COLUMNS = [
    "City", "Customer Age", "Customer Name", "Customer Segment", "Discount",
    "Number of Records", "Order Date", "Order ID", "Order Priority",
    "Order Quantity", "Product Base Margin", "Product Category",
    "Product Container", "Product Name", "Product Sub-Category", "Profit",
    "Region", "Row ID", "Sales", "Ship Date", "Ship Mode", "Shipping Cost",
    "State", "Unit Price", "Zip Code",
]

CATEGORIES = {
    "Furniture": ["Bookcases", "Chairs & Chairmats", "Office Furnishings",
                  "Tables"],
    "Office Supplies": ["Appliances", "Binders and Binder Accessories",
                        "Envelopes", "Labels", "Paper",
                        "Pens & Art Supplies", "Rubber Bands",
                        "Scissors, Rulers and Trimmers",
                        "Storage & Organization"],
    "Technology": ["Computer Peripherals", "Copiers and Fax",
                   "Office Machines", "Telephones and Communication"],
}
CONTAINERS = ["Small Box", "Small Pack", "Medium Box", "Large Box",
              "Wrap Bag", "Jumbo Box", "Jumbo Drum"]
SEGMENTS = ["Consumer", "Corporate", "Home Office", "Small Business"]
PRIORITIES = ["Critical", "High", "Medium", "Low", "Not Specified"]
SHIP_MODES = ["Regular Air", "Express Air", "Delivery Truck"]
REGIONS = ["Central", "East", "South", "West"]
STATES = ["Alabama", "Arizona", "California", "Colorado", "Florida",
          "Georgia", "Illinois", "Iowa", "Kansas", "Michigan", "Nevada",
          "New York", "Ohio", "Oregon", "Texas", "Utah", "Virginia",
          "Washington"]
BRANDS = ["Safco", "Eldon", "Fellowes", "Avery", "Hon", "Global", "Xerox",
          "Acme", "Tenex", "Bretford", "Okidata", "Hewlett-Packard"]
NOUNS = ["Shelving", "Binder", "Stapler", "Chair", "Desk Tray", "Envelope",
         "Label Maker", "Printer", "Phone", "Table", "Bookcase", "Scissors"]
FIRST = ["Matt", "Ana", "Lee", "Ravi", "Sara", "Omar", "Ines", "Tom",
         "Yuki", "Nia", "Carl", "Rosa", "Ivan", "Mei", "Paul", "Zoe"]
LAST = ["Collister", "Ng", "Okafor", "Silva", "Berg", "Haddad", "Moreau",
        "Kim", "Ward", "Patel", "Costa", "Novak", "Diaz", "Lund", "Reyes"]
CITY_PARTS = ["Napa", "Leander", "Claremont", "Oak", "River", "Pine",
              "Cedar", "Lake", "Hill", "Fair", "Glen", "Spring"]

FIRST_DAY = datetime.date(2012, 1, 1)

REPRICE_SHARE = 0.05
MOVE_SHARE = 0.05
RESEGMENT_SHARE = 0.05
NEW_ROW_SHARE = 0.10


def mdy(d):
    return f"{d.month}/{d.day}/{d.year}"


def money(x):
    return f"{x:.2f}"


class Population:
    def __init__(self, rng, days):
        self.rng = rng
        self.days = days
        self.products = {}   # name -> dict
        self.customers = {}  # name -> dict
        self.cities = {}     # name -> dict
        self.subcats = [(c, s) for c, ss in CATEGORIES.items() for s in ss]

    def new_product(self):
        rng = self.rng
        while True:
            name = f"{rng.choice(BRANDS)} {rng.choice(NOUNS)} {rng.randrange(100, 10000)}"
            mark = rng.random()
            if mark < 0.08:
                name = f'{name} {rng.randrange(10, 60)}" Wide'
            elif mark < 0.14:
                name = name.replace(" ", "™ ", 1)
            if name not in self.products:
                break
        # the first products cover every sub-category, so the supplier
        # slot lists are complete in batch 1 and stable in batch 2
        cat, sub = self.subcats[len(self.products) % len(self.subcats)] \
            if len(self.products) < len(self.subcats) else rng.choice(self.subcats)
        self.products[name] = {
            "category": cat, "sub": sub, "container": rng.choice(CONTAINERS),
            "margin": None if rng.random() < 0.02 else round(rng.uniform(0.35, 0.85), 2),
            "price": round(rng.uniform(1.0, 600.0), 2),
        }
        return name

    def new_customer(self):
        rng = self.rng
        while True:
            name = f"{rng.choice(FIRST)} {rng.choice(LAST)} {rng.randrange(1, 100000)}"
            if name not in self.customers:
                break
        self.customers[name] = {
            "age": "" if rng.random() < 0.3 else str(rng.randrange(18, 80)),
            "segment": rng.choice(SEGMENTS),
            "home": None,
        }
        return name

    def new_city(self):
        rng = self.rng
        while True:
            name = f"{rng.choice(CITY_PARTS)}{rng.choice(['ville', 'ton', ' Falls', ' Park', 'field'])} {rng.randrange(1, 100000)}"
            if name not in self.cities:
                break
        self.cities[name] = {
            "state": rng.choice(STATES), "zip": f"{rng.randrange(1000, 99999):05d}",
            "region": rng.choice(REGIONS),
        }
        return name

    def line(self, row_id, order_id, order_day, product, customer):
        rng = self.rng
        p = self.products[product]
        c = self.customers[customer]
        if c["home"] is None:
            c["home"] = rng.choice(list(self.cities))
        city = c["home"] if rng.random() < 0.8 else rng.choice(list(self.cities))
        loc = self.cities[city]
        qty = rng.randrange(1, 51)
        discount = rng.randrange(0, 11) / 100
        sales = round(qty * p["price"] * (1 - discount) + rng.uniform(0, 5), 2)
        profit = round(sales * rng.uniform(-0.4, 0.5), 2)
        order_date = FIRST_DAY + datetime.timedelta(days=order_day)
        ship_date = order_date + datetime.timedelta(days=rng.randrange(0, 6))
        return {
            "City": city, "Customer Age": c["age"], "Customer Name": customer,
            "Customer Segment": c["segment"], "Discount": f"{discount:.2f}",
            "Number of Records": "1", "Order Date": mdy(order_date),
            "Order ID": str(order_id), "Order Priority": rng.choice(PRIORITIES),
            "Order Quantity": str(qty),
            "Product Base Margin": "" if p["margin"] is None else f"{p['margin']:.2f}",
            "Product Category": p["category"], "Product Container": p["container"],
            "Product Name": product, "Product Sub-Category": p["sub"],
            "Profit": money(profit), "Region": loc["region"], "Row ID": str(row_id),
            "Sales": money(sales), "Ship Date": mdy(ship_date),
            "Ship Mode": rng.choice(SHIP_MODES),
            "Shipping Cost": money(rng.uniform(0.5, 60.0)), "State": loc["state"],
            "Unit Price": money(p["price"]), "Zip Code": loc["zip"],
        }

    def lines(self, n, first_row_id, first_order_id, products, customers):
        """`n` sales lines in orders of 1-3 lines over the given keys."""
        rng = self.rng
        out = []
        order_id = first_order_id
        while len(out) < n:
            order_day = rng.randrange(self.days)
            customer = rng.choice(customers)
            for _ in range(min(rng.randrange(1, 4), n - len(out))):
                out.append(self.line(first_row_id + len(out), order_id,
                                     order_day, rng.choice(products), customer))
            order_id += 1
        return out


def refresh(line, pop):
    """Re-derive a line's product/customer/city attributes from `pop`."""
    p = pop.products[line["Product Name"]]
    c = pop.customers[line["Customer Name"]]
    loc = pop.cities[line["City"]]
    out = dict(line)
    out["Unit Price"] = money(p["price"])
    out["Customer Segment"] = c["segment"]
    out["State"], out["Zip Code"], out["Region"] = loc["state"], loc["zip"], loc["region"]
    return out


def write_csv(path, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=COLUMNS, quoting=csv.QUOTE_MINIMAL,
                           lineterminator="\n")
        w.writeheader()
        w.writerows(rows)


def generate(out_dir, seed, rows, days):
    rng = random.Random(seed)
    pop = Population(rng, days)
    n_products = max(len(pop.subcats), rows * 1263 // 8399)
    n_customers = max(10, rows * 795 // 8399)
    n_cities = max(60, rows * 1636 // 8399)
    products = [pop.new_product() for _ in range(n_products)]
    customers = [pop.new_customer() for _ in range(n_customers)]
    for _ in range(n_cities):
        pop.new_city()
    batch1 = pop.lines(rows, 1, 1, products, customers)

    # batch-2 change set, drawn over keys batch 1 actually used
    used_products = sorted({r["Product Name"] for r in batch1})
    used_cities = sorted({r["City"] for r in batch1})
    used_customers = sorted({r["Customer Name"] for r in batch1})
    repriced = rng.sample(used_products, max(1, int(len(used_products) * REPRICE_SHARE)))
    for name in repriced:
        p = pop.products[name]
        p["price"] = round(p["price"] * rng.choice([0.8, 0.9, 1.1, 1.25]) + 0.01, 2)
    moved = rng.sample(used_cities, max(1, int(len(used_cities) * MOVE_SHARE)))
    for name in moved:
        loc = pop.cities[name]
        loc["state"] = rng.choice([s for s in STATES if s != loc["state"]])
        loc["zip"] = f"{rng.randrange(1000, 99999):05d}"
    resegmented = rng.sample(used_customers, max(1, int(len(used_customers) * RESEGMENT_SHARE)))
    for name in resegmented:
        c = pop.customers[name]
        c["segment"] = rng.choice([s for s in SEGMENTS if s != c["segment"]])

    n_new = max(1, int(rows * NEW_ROW_SHARE))
    new_products = [pop.new_product() for _ in range(max(1, n_products // 20))]
    new_customers = [pop.new_customer() for _ in range(max(1, n_customers // 20))]
    for _ in range(max(1, n_cities // 20)):
        pop.new_city()
    batch2 = [refresh(r, pop) for r in batch1] + pop.lines(
        n_new, rows + 1, int(batch1[-1]["Order ID"]) + 1,
        products + new_products, customers + new_customers)

    os.makedirs(out_dir, exist_ok=True)
    write_csv(os.path.join(out_dir, "batch1.csv"), batch1)
    write_csv(os.path.join(out_dir, "batch2.csv"), batch2)
    truth = {
        "batch1_rows": len(batch1), "batch2_rows": len(batch2),
        "repriced_products": len(repriced), "moved_cities": len(moved),
        "resegmented_customers": len(resegmented),
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))))
