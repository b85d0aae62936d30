"""Seeded JD Edwards landing-file generator for the benchmark.

Writes the two landing CSVs the pipeline ingests -- F0101 (Address Book
Master, the customer source) and F4211 (Sales Order Detail, the fact
source) -- plus the ingestion config, in the reference's CSV dialect:
header row, `,` delimiter, `"` quote, `\\` escape.

Domains follow the reference generator:
  ABAN8   customer number, unique, 10000-99999
  ABALPH  company name (some contain commas, so they are quoted)
  ABAT1   search type "C"
  ABAC01  category code "100" | "200" | "300"
  ABUPMJ  last-updated date, JDE Julian CYYDDD
  SDDOCO  order number, unique across every batch
  SDDCTO  order type "SO"
  SDAN8   customer number (an ABAN8 known on or before the batch date)
  SDLITM  item number, EAN-13 with a valid check digit
  SDTRDJ  order date, CYYDDD, within the year before the batch date
  SDUORG  units x 100 (implicit two decimals)
  SDAEXP  units x unit price in cents (implicit two decimals)

Every value comes from `random.Random` seeded with a string derived from
the seed, so the same seed gives byte-identical files on any platform.

A "set" is one initial batch (day 0) plus `days` daily change batches.
A daily batch lands new order lines, re-lands the customers whose
tracked attributes changed, and lands the new customers. Each batch's
expected totals go to `manifest.json` beside the files; the benchmark
checks the warehouse against them.

Run directly to write a set:
    python3 perfbench/landing.py OUT_DIR --seed 7 --orders 100000 \\
        --customers 5000 --days 8 --daily-orders 2000
"""
import argparse
import datetime as dt
import json
import os
import random

# Day 0 of every set; order dates fall in the year before each batch date.
BASE_DATE = dt.date(2024, 6, 3)
HEADER_F0101 = "ABAN8,ABALPH,ABAT1,ABAC01,ABUPMJ"
HEADER_F4211 = "SDDOCO,SDDCTO,SDAN8,SDLITM,SDTRDJ,SDUORG,SDAEXP"
CATEGORIES = ("100", "200", "300")
NAME_HEAD = ("Acme", "Northwind", "Contoso", "Fabrikam", "Globex", "Initech",
             "Umbrella", "Stark", "Wayne", "Tyrell", "Cyberdyne", "Soylent",
             "Hooli", "Vandelay", "Wonka", "Gringotts")
NAME_TAIL = ("Trading", "Supply", "Industries", "Foods", "Logistics",
             "Systems", "Partners", "Holdings")
NAME_FORM = ("Inc.", "LLC", "Ltd", "GmbH", "S.A.")
CHANGE_FRAC = 0.02
NEW_FRAC = 0.005
ITEMS = 5000


def julian(d):
    """JDE Julian CYYDDD: C = centuries since 1900, YY, day of year."""
    return (d.year - 1900) // 100 * 100000 + d.year % 100 * 1000 + d.timetuple().tm_yday


def ean13(body12):
    digits = [int(c) for c in body12]
    check = (10 - sum(d * (3 if i % 2 else 1) for i, d in enumerate(digits)) % 10) % 10
    return body12 + str(check)


def csv_field(s):
    if any(c in s for c in ',"\\\n'):
        return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return s


def company(rng, ident):
    name = f"{rng.choice(NAME_HEAD)} {rng.choice(NAME_TAIL)} {ident}"
    return f"{name}, {rng.choice(NAME_FORM)}" if rng.random() < 0.3 else name


def write_lines(path, header, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(header + "\n")
        f.write("\n".join(lines))
        f.write("\n")


def write_config(path):
    config = [
        {"sourceFile": "F0101.csv", "sinkPath": "jde/F0101",
         "description": "Address Book Master"},
        {"sourceFile": "F4211.csv", "sinkPath": "jde/F4211",
         "description": "Sales Order Detail"},
    ]
    with open(path, "w", encoding="utf-8") as f:
        json.dump(config, f, indent=2)
        f.write("\n")


def generate(out_dir, seed, orders, customers, days, daily_orders):
    """Write batch_0 .. batch_<days> under out_dir; return the manifest."""
    rng = random.Random(f"perfbench-landing-{seed}")
    ids = rng.sample(range(10000, 100000), customers + days * (int(customers * NEW_FRAC) + 1))
    items = [ean13(f"{rng.randrange(10 ** 12):012d}") for _ in range(ITEMS)]
    attrs = {}  # ABAN8 -> (ABALPH, ABAT1, ABAC01): the source's current state
    next_id = 0
    next_order = rng.randrange(1, 1000)
    batches = []
    for day in range(days + 1):
        brng = random.Random(f"perfbench-landing-{seed}-batch-{day}")
        date = BASE_DATE + dt.timedelta(days=day)
        if day == 0:
            changed, n_new, n_orders = [], customers, orders
        else:
            known = sorted(attrs)
            changed = brng.sample(known, int(len(known) * CHANGE_FRAC))
            n_new, n_orders = int(customers * NEW_FRAC), daily_orders
        for cid in changed:
            name, at1, ac01 = attrs[cid]
            if brng.random() < 0.5:
                ac01 = brng.choice([c for c in CATEGORIES if c != ac01])
            else:
                name = company(brng, cid)
                if name == attrs[cid][0]:
                    name += " II"
            attrs[cid] = (name, at1, ac01)
        new = ids[next_id:next_id + n_new]
        next_id += n_new
        for cid in new:
            attrs[cid] = (company(brng, cid), "C", brng.choice(CATEGORIES))
        stamp = julian(date)
        f0101 = [f"{cid},{csv_field(attrs[cid][0])},{attrs[cid][1]},{attrs[cid][2]},{stamp}"
                 for cid in changed + new]
        known = sorted(attrs)
        f4211 = []
        cents = 0
        for _ in range(n_orders):
            units = brng.randint(1, 100)
            price = brng.randint(100, 50000)
            order_date = date - dt.timedelta(days=brng.randint(1, 365))
            f4211.append(f"{next_order},SO,{brng.choice(known)},{brng.choice(items)},"
                         f"{julian(order_date)},{units * 100},{units * price}")
            cents += units * price
            next_order += 1
        bdir = os.path.join(out_dir, f"batch_{day}")
        os.makedirs(bdir, exist_ok=True)
        write_lines(os.path.join(bdir, "F0101.csv"), HEADER_F0101, f0101)
        write_lines(os.path.join(bdir, "F4211.csv"), HEADER_F4211, f4211)
        write_config(os.path.join(bdir, "source_config.json"))
        batches.append({
            "dir": f"batch_{day}", "ingest_date": date.isoformat(),
            "order_lines": n_orders, "sdaexp_cents": cents,
            "changed_customers": len(changed), "new_customers": n_new,
            "bytes": sum(os.path.getsize(os.path.join(bdir, f))
                         for f in ("F0101.csv", "F4211.csv")),
        })
    manifest = {"seed": seed, "batches": batches}
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1)
        f.write("\n")
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--orders", type=int, required=True)
    ap.add_argument("--customers", type=int, required=True)
    ap.add_argument("--days", type=int, default=0)
    ap.add_argument("--daily-orders", type=int, default=0)
    a = ap.parse_args()
    generate(a.out_dir, a.seed, a.orders, a.customers, a.days, a.daily_orders)


if __name__ == "__main__":
    main()
