"""Deterministic small-scale TPC-DS dataset for DIFFERENTIAL testing.

The reference parks its slt/tpcds suite (68 of 99 query files have empty
goldens — its own planner timed out before authoring them; see
COVERAGE.md), so beyond the golden-checked files there is nothing to
assert values against. This module closes that differently: a seeded,
schema-exact dataset over all 24 tables (schemas from the in-repo DDL,
tpcds_spec.py: DuckDB 1.0.0's dsdgen(sf=0) schema, read through
parquet_testing.tpcds_schemas) with the FK correlations the queries
join on — every fact *_sk samples a real dimension key, returns
reference EXISTING sale line items (same item + ticket/order number),
date_dim is a real 1998-2002 calendar (julian-style d_date_sk,
d_month_seq = (y-1900)*12+m-1 — so the queries' `d_month_seq BETWEEN
1200 AND 1211` windows hit), and string domains come from the literal
pools the 99 queries actually filter on (i_category, cd_gender,
d_day_name, ...). tests/test_tpcds_differential.py then runs each query
through BOTH this engine and DuckDB on the same parquet and compares
values — the strongest check available for queries whose reference
goldens were never written.

Scale note: this is a correctness fixture (few thousand fact rows), not
a benchmark input; generation is pure-python + pyarrow, no Spark.
"""

from __future__ import annotations

import datetime
import decimal
import os
import random

JULIAN_1998 = 2450815  # d_date_sk of 1998-01-01, the dsdgen convention
_DAYS = 365 * 5 + 1  # 1998-01-01 .. 2002-12-31

# literal domains the 99 query files filter on (extracted from their
# predicates; values not covered here make those filters empty on BOTH
# engines, which still compares equal but asserts less)
_POOLS: dict[str, list[str]] = {
    "cd_gender": ["F", "M"],
    "cd_marital_status": ["D", "M", "S", "W", "U"],
    "cd_education_status": [
        "2 yr Degree", "4 yr Degree", "Advanced Degree", "College",
        "Unknown", "Primary", "Secondary",
    ],
    "cd_credit_rating": ["Good", "High Risk", "Low Risk", "Unknown"],
    "s_state": ["TN", "SD", "AL", "GA"],
    "s_store_name": ["ese", "ation", "able", "ought", "bar"],
    "s_county": ["Williamson County", "Ziebach County"],
    "s_city": ["Fairview", "Midway", "Edgewood"],
    "cc_county": ["Williamson County", "Ziebach County"],
    "cc_class": ["small", "medium", "large"],
    "d_day_name": [],  # authored by the calendar builder
    "i_category": [
        "Books", "Electronics", "Jewelry", "Men", "Music", "Sports",
        "Women", "Children", "Home", "Shoes",
    ],
    "i_class": [
        "accessories", "birdal", "classical", "computers", "dresses",
        "football", "fragrances", "maternity", "pants", "shirts",
        "stereo", "personal", "portable",
    ],
    "i_brand": [
        "amalgimporto #1", "edu packscholar #1", "exportiimporto #1",
        "importoamalg #1", "scholaramalgamalg #9", "corpunivamalg #6",
    ],
    "i_color": [
        "brown", "cornflower", "cyan", "deep", "floral", "forest",
        "frosted", "ghost", "honeydew", "khaki", "light", "midnight",
        "orange", "papaya", "peach", "powder", "snow", "red", "blue",
        "slate", "blanched", "burlywood", "purple",
    ],
    "i_units": [
        "Box", "Bunch", "Bundle", "Cup", "Dozen", "Dram", "Each",
        "Gross", "Lb", "N/A", "Ounce", "Oz", "Pallet", "Pound", "Tbl",
        "Ton", "Unknown",
    ],
    "i_size": [
        "N/A", "extra large", "medium", "petite", "small", "large",
        "economy",
    ],
    "ca_state": [
        "GA", "IL", "KY", "MS", "NM", "OH", "OR", "TX", "VA", "TN",
        "CA", "WA", "NC", "OK", "FL", "IN", "SC",
    ],
    "ca_city": ["Edgewood", "Fairview", "Midway", "Oak Grove",
                "Riverside"],
    "ca_county": ["Williamson County", "Ziebach County", "Walker County",
                  "Richland County", "Gaines County"],
    "ca_country": ["United States"],
    "ca_zip": [
        "85669", "86197", "88274", "83405", "86475", "85392", "85460",
        "80348", "81792", "24128", "76232", "65084", "87816", "83926",
        "77556", "20548", "26231", "43848", "15126", "91137", "35460",
    ],
    "ca_location_type": ["apartment", "condo", "single family"],
    "ca_street_type": ["Street", "Ave", "Blvd", "Way", "Ct"],
    "c_preferred_cust_flag": ["Y", "N"],
    "c_birth_country": ["UNITED STATES", "CANADA", "MEXICO", "GERMANY",
                        "JAPAN"],
    "c_salutation": ["Mr.", "Mrs.", "Ms.", "Dr.", "Miss", "Sir"],
    "c_first_name": ["James", "Mary", "John", "Linda", "Robert",
                     "Susan", "David", "Sarah"],
    "c_last_name": ["Smith", "Jones", "Brown", "White", "Moore",
                    "Clark", "Lewis", "Young"],
    "hd_buy_potential": [">10000", "Unknown", "1001-5000", "0-500",
                         "501-1000", "5001-10000"],
    "p_channel_email": ["N", "Y"],
    "p_channel_event": ["N", "Y"],
    "p_channel_tv": ["N", "Y"],
    "p_channel_dmail": ["Y", "N"],
    "web_company_name": ["pri", "able", "ese", "anti", "cally"],
    "sm_carrier": ["BARIAN", "DHL", "UPS", "FEDEX", "AIRBORNE"],
    "sm_type": ["EXPRESS", "NEXT DAY", "OVERNIGHT", "REGULAR",
                "TWO DAY", "LIBRARY"],
    "t_meal_time": ["breakfast", "dinner", "lunch"],
    "t_am_pm": ["AM", "PM"],
    "t_shift": ["first", "second", "third"],
    "t_sub_shift": ["morning", "afternoon", "evening", "night"],
    "r_reason_desc": ["reason 28", "reason 1", "reason 2", "reason 3"],
    "i_manufact": ["oughtbar", "ableoughtn st", "pribarable",
                   "eseoughteing"],
    "s_gmt_offset": [],  # numeric; handled below
    "w_state": ["TN", "GA", "AL"],
    "w_county": ["Williamson County", "Ziebach County"],
    "wp_char_count": [],
}

_ROWS = {
    "date_dim": _DAYS,
    "time_dim": 1440,  # one per minute of day
    "item": 120,
    "customer": 250,
    "customer_address": 250,
    "customer_demographics": 140,  # 2 x (gender x marital x education)
    "household_demographics": 120,
    "income_band": 20,
    "store": 12,
    "call_center": 6,
    "catalog_page": 30,
    "warehouse": 6,
    "web_page": 12,
    "web_site": 8,
    "ship_mode": 12,
    "reason": 12,
    "promotion": 24,
    "store_sales": 10000,
    "catalog_sales": 7500,
    "web_sales": 7500,
    "store_returns": 2000,
    "catalog_returns": 1500,
    "web_returns": 1500,
    "inventory": 5200,
}

# per-line-group SHARED columns: a real ticket/order's lines share the
# sale's date/time/parties/store — without this every line draws its
# own customer and the basket-count queries (HAVING cnt BETWEEN 15 AND
# 20 grouped by ticket+customer) can never see a basket bigger than a
# coincidence (r13 depth work)
_GROUP_SHARED = {
    "store_sales": (
        "ss_sold_date_sk", "ss_sold_time_sk", "ss_customer_sk",
        "ss_cdemo_sk", "ss_hdemo_sk", "ss_addr_sk", "ss_store_sk",
    ),
    "catalog_sales": (
        "cs_sold_date_sk", "cs_sold_time_sk", "cs_ship_date_sk",
        "cs_bill_customer_sk", "cs_bill_cdemo_sk", "cs_bill_hdemo_sk",
        "cs_bill_addr_sk", "cs_ship_customer_sk", "cs_ship_cdemo_sk",
        "cs_ship_hdemo_sk", "cs_ship_addr_sk", "cs_call_center_sk",
        "cs_ship_mode_sk", "cs_warehouse_sk",
    ),
    "web_sales": (
        "ws_sold_date_sk", "ws_sold_time_sk", "ws_ship_date_sk",
        "ws_bill_customer_sk", "ws_bill_cdemo_sk", "ws_bill_hdemo_sk",
        "ws_bill_addr_sk", "ws_ship_customer_sk", "ws_ship_cdemo_sk",
        "ws_ship_hdemo_sk", "ws_ship_addr_sk", "ws_web_site_sk",
        "ws_ship_mode_sk", "ws_warehouse_sk",
    ),
}

# fact FK suffix -> dimension whose key range it samples
_FK = {
    "_item_sk": "item",
    "_customer_sk": "customer",
    "_cdemo_sk": "customer_demographics",
    "_hdemo_sk": "household_demographics",
    "_addr_sk": "customer_address",
    "_store_sk": "store",
    "_call_center_sk": "call_center",
    "_catalog_page_sk": "catalog_page",
    "_warehouse_sk": "warehouse",
    "_web_page_sk": "web_page",
    "_web_site_sk": "web_site",
    "_ship_mode_sk": "ship_mode",
    "_reason_sk": "reason",
    "_promo_sk": "promotion",
    "_income_band_sk": "income_band",
}


def _calendar(i: int) -> dict:
    d = datetime.date(1998, 1, 1) + datetime.timedelta(days=i)
    names = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
             "Saturday", "Sunday"]
    month_seq = (d.year - 1900) * 12 + d.month - 1
    return {
        "d_date_sk": JULIAN_1998 + i,
        "d_date_id": f"AAAAAAAA{JULIAN_1998 + i}",
        "d_date": d,
        "d_month_seq": month_seq,
        "d_week_seq": (i + 3) // 7 + 5113,  # 1998-01-01 was a Thursday
        "d_quarter_seq": (d.year - 1900) * 4 + (d.month - 1) // 3,
        "d_year": d.year,
        "d_dow": d.isoweekday() % 7,  # dsdgen: Sunday=0
        "d_moy": d.month,
        "d_dom": d.day,
        "d_qoy": (d.month - 1) // 3 + 1,
        "d_fy_year": d.year,
        "d_fy_quarter_seq": (d.year - 1900) * 4 + (d.month - 1) // 3,
        "d_fy_week_seq": (i + 3) // 7 + 5113,
        "d_day_name": names[d.weekday()],
        "d_quarter_name": f"{d.year}Q{(d.month - 1) // 3 + 1}",
        "d_holiday": "Y" if (d.month, d.day) in ((1, 1), (7, 4),
                                                 (12, 25)) else "N",
        "d_weekend": "Y" if d.weekday() >= 5 else "N",
        "d_following_holiday": "Y" if (d.month, d.day) in (
            (1, 2), (7, 5), (12, 26)) else "N",
        "d_first_dom": JULIAN_1998 + i - d.day + 1,
        "d_last_dom": JULIAN_1998 + i,  # approximation dsdgen also fudges
        "d_same_day_ly": JULIAN_1998 + i - 365,
        "d_same_day_lq": JULIAN_1998 + i - 91,
        "d_current_day": "N",
        "d_current_week": "N",
        "d_current_month": "N",
        "d_current_quarter": "N",
        "d_current_year": "N",
    }


def _cd_row(i: int) -> dict:
    """customer_demographics is a CROSS-PRODUCT dimension in dsdgen —
    enumerate (gender x marital x education) so every filter combo the
    queries name exists (random draws left ~30% of combos absent and
    emptied the cd-triple queries)."""
    g = _POOLS["cd_gender"][i % 2]
    m = _POOLS["cd_marital_status"][(i // 2) % 5]
    e = _POOLS["cd_education_status"][(i // 10) % 7]
    return {
        "cd_demo_sk": i + 1,
        "cd_gender": g,
        "cd_marital_status": m,
        "cd_education_status": e,
        "cd_purchase_estimate": 500 + (i % 20) * 500,
        "cd_credit_rating": _POOLS["cd_credit_rating"][i % 4],
        "cd_dep_count": i % 7,
        "cd_dep_employed_count": (i // 7) % 5,
        "cd_dep_college_count": (i // 35) % 4,
    }


def _hd_row(i: int) -> dict:
    """household_demographics: enumerate buy_potential x dep_count x
    vehicle_count so ratio filters (dep/vehicle > 1, vehicle = 3, ...)
    always have qualifying rows."""
    return {
        "hd_demo_sk": i + 1,
        "hd_income_band_sk": (i % 20) + 1,
        "hd_buy_potential": _POOLS["hd_buy_potential"][i % 6],
        "hd_dep_count": (i // 6) % 10,
        "hd_vehicle_count": (i // 2) % 5,
    }


def _time_row(i: int) -> dict:
    sec = i * 60  # one row per minute
    h, rem = divmod(sec, 3600)
    m, s = divmod(rem, 60)
    return {
        "t_time_sk": sec,
        "t_time_id": f"AAAAAAAA{sec}",
        "t_time": sec,
        "t_hour": h,
        "t_minute": m,
        "t_second": s,
        "t_am_pm": "AM" if h < 12 else "PM",
        "t_shift": "first" if h < 8 else ("second" if h < 16 else
                                          "third"),
        "t_sub_shift": ["morning", "afternoon", "evening",
                        "night"][h // 6],
        "t_meal_time": ("breakfast" if 6 <= h <= 9 else
                        "lunch" if 11 <= h <= 13 else
                        "dinner" if 17 <= h <= 20 else None),
    }


def _dec(rng: random.Random, lo: float, hi: float) -> decimal.Decimal:
    return decimal.Decimal(rng.randrange(int(lo * 100),
                                         int(hi * 100))) / 100


def _generic(col: str, typ: str, i: int, rng: random.Random, nrows: int):
    """Value for a column no special rule claims."""
    if typ == "Date32":
        return datetime.date(1998, 1, 1) + datetime.timedelta(
            days=rng.randrange(_DAYS)
        )
    if typ.startswith("Decimal"):
        if col.endswith("_gmt_offset"):
            return decimal.Decimal(rng.choice([-5, -6, -7, -8]))
        if "percentage" in col or col.endswith("_tax_percentage"):
            return _dec(rng, 0, 0.12)
        if col == "i_current_price":
            # the price-window filters (BETWEEN 62 AND 92, ...) live
            # under 100; q21's band is 0.99..1.49, so pin some items
            # inside it
            if rng.random() < 0.12:
                return _dec(rng, 0.99, 1.49)
            return _dec(rng, 0.09, 99)
        return _dec(rng, 0, 1500)
    if typ == "Int32":
        if col.endswith("_quantity_on_hand"):
            # the inventory-window queries filter 100..500
            return rng.randrange(0, 1001)
        if col.endswith("_quantity") or col.endswith("_return_quantity"):
            return rng.randrange(1, 101)
        if col.endswith("_birth_year"):
            return rng.randrange(1924, 1993)
        if col.endswith("_birth_month"):
            return rng.randrange(1, 13)
        if col.endswith("_birth_day"):
            return rng.randrange(1, 29)
        if col.endswith("_dep_count") or col.endswith("_vehicle_count"):
            return rng.randrange(0, 10)
        if col.endswith("_manager_id"):
            # weight toward the ids the queries name
            return rng.choice([1, 8, 28, rng.randrange(1, 101)])
        if col.endswith(("_brand_id", "_class_id", "_category_id")):
            return rng.randrange(1, 17)
        if col.endswith("_manufact_id"):
            # half the items land on the ids the queries name, so
            # manufact-filtered plans have rows to return
            return rng.choice([
                128, 350, 738, 977,      # the = literals
                677, 940, 694, 808,      # q37's IN list
                129, 270, 821, 423,      # q82's IN list
                rng.randrange(1, 1001),
            ])
        if col == "s_market_id":
            return rng.randrange(1, 11)
        if col == "wp_char_count":
            return rng.randrange(4800, 5501)
        if col == "ib_lower_bound":
            return (i % 20) * 10000
        if col == "ib_upper_bound":
            return (i % 20) * 10000 + 10000
        if col.endswith("_employees"):
            return rng.randrange(200, 300)
        if col.endswith("_sq_ft"):
            return rng.randrange(5000, 9000)
        return rng.randrange(0, 120)
    # Utf8
    pool = _POOLS.get(col)
    if pool:
        # the first len(pool) rows ENUMERATE the pool, so every literal
        # the queries filter on is guaranteed to exist even in small
        # dimensions (an unlucky draw once left 'reason 28' out of the
        # 12-row reason table and emptied q93); later rows draw freely
        return pool[i] if i < len(pool) else rng.choice(pool)
    if col.endswith("_id"):
        return f"{col[:2].upper()}{i:014d}"
    if col.endswith("_zip"):
        return rng.choice(_POOLS["ca_zip"])
    if col.endswith("_email_address"):
        return f"user{i}@example.{rng.choice(['com', 'org'])}"
    if col.endswith("_product_name") or col.endswith("_name"):
        return f"{col.split('_')[-1]} {i % 37}"
    if col.endswith("_desc") or col.endswith("_description"):
        return f"{col} text {i % 23}"
    if col.endswith("_hours"):
        return rng.choice(["8AM-4PM", "8AM-12AM", "8AM-8AM"])
    if col.endswith("_street_number") or col.endswith("_suite_number"):
        return str(rng.randrange(1, 999))
    return f"{col.split('_', 1)[-1]}{i % 13}"


def _date_sk(y: int, m: int, d: int) -> int:
    return JULIAN_1998 + (
        datetime.date(y, m, d) - datetime.date(1998, 1, 1)
    ).days


def _find_cd(rows: list[dict], marital: str, education: str) -> int:
    """cd_demo_sk of the enumerated (marital, education) combo."""
    for r in rows:
        if (r["cd_marital_status"] == marital
                and r["cd_education_status"] == education):
            return r["cd_demo_sk"]
    raise AssertionError(f"no cd combo {marital}/{education}")


def _find_hd(rows: list[dict], buy_potential: str) -> int:
    for r in rows:
        if r["hd_buy_potential"] == buy_potential:
            return r["hd_demo_sk"]
    raise AssertionError(f"no hd {buy_potential}")


def _plant(rows_by_table: dict, rng: random.Random) -> None:
    """Plant deterministic correlated cohorts so the 13 deepest TPC-DS
    queries return rows (r14, VERDICT r13 #2): multi-year multi-channel
    customer growth chains (q04), cross-channel same-window purchasers
    (q10), inventory before/after and variance windows (q21/q39/q72),
    best-customer + frequent-item chains (q23), manufact attribute
    combos (q41), high-value returns (q49), category-cohort revenue
    segments (q54), same-week tri-channel item revenue (q58), the
    two-purchase store/returns chain (q64), and demographic-matched
    return cohorts (q85/q91). Planted magnitudes dominate the random
    background (99k-scale measures vs ~1.5k noise lines) so the ratio
    and growth predicates hold regardless of the surrounding draws.
    Every plant is pure-dict editing before the parquet write; both
    engines read identical bytes, so the differential stays exact."""
    T = rows_by_table
    next_no = [100000]  # fresh ticket/order numbers, beyond any group
    orig: dict[str, list] = {}  # clone only PRE-plant rows — a planted
    # 99k-measure line must never leak into a later plant's base

    def mk(table: str, **over) -> dict:
        pool = orig.setdefault(table, list(T[table]))
        r = dict(rng.choice(pool))
        r.update(over)
        T[table].append(r)
        return r

    def order_no() -> int:
        next_no[0] += 1
        return next_no[0]

    items, addrs, custs = T["item"], T["customer_address"], T["customer"]
    cds, hds = T["customer_demographics"], T["household_demographics"]

    # --- q04: store+catalog+web in 2001 AND 2002, catalog growing
    # faster than both store and web (year_total =
    # sum((list - wholesale - discount + sales)/2); planted 99k/line)
    MEAS = dict(list_price=99000, wholesale=0, discount=0, sales=99000)

    def sale_lines(table, p, cust, y, n, item_sk=None):
        no = order_no()
        cust_col = (f"{p}_customer_sk" if p == "ss"
                    else f"{p}_bill_customer_sk")
        no_col = ("ss_ticket_number" if p == "ss"
                  else f"{p}_order_number")
        out = []
        for _ in range(n):
            out.append(mk(
                table, **{
                    cust_col: cust,
                    no_col: no,
                    f"{p}_sold_date_sk": _date_sk(y, 6, 15),
                    f"{p}_item_sk": item_sk or rng.randrange(1, 100),
                    f"{p}_ext_list_price": MEAS["list_price"],
                    f"{p}_ext_wholesale_cost": MEAS["wholesale"],
                    f"{p}_ext_discount_amt": MEAS["discount"],
                    f"{p}_ext_sales_price": MEAS["sales"],
                }))
        return out

    for cust in (1, 2, 3, 4):
        for y in (2001, 2002):
            sale_lines("store_sales", "ss", cust, y, 6)
        sale_lines("catalog_sales", "cs", cust, 2001, 1)
        sale_lines("catalog_sales", "cs", cust, 2002, 30)
        sale_lines("web_sales", "ws", cust, 2001, 1)
        sale_lines("web_sales", "ws", cust, 2002, 2)

    # --- q10: customers in the query's county list buying store +
    # (web | catalog-SHIP) within Jan..Apr 2002
    q10_counties = ["Rush County", "Toole County", "Jefferson County",
                    "Dona Ana County", "La Porte County"]
    for k, cust in enumerate((13, 14, 15, 16)):
        addr_sk = 240 + k
        addrs[addr_sk - 1]["ca_county"] = q10_counties[k % 5]
        custs[cust - 1]["c_current_addr_sk"] = addr_sk
        mk("store_sales", ss_customer_sk=cust,
           ss_sold_date_sk=_date_sk(2002, 2, 10),
           ss_ticket_number=order_no(), ss_item_sk=7)
        if k < 2:
            mk("web_sales", ws_bill_customer_sk=cust,
               ws_sold_date_sk=_date_sk(2002, 3, 5),
               ws_order_number=order_no(), ws_item_sk=7)
        else:
            mk("catalog_sales", cs_ship_customer_sk=cust,
               cs_sold_date_sk=_date_sk(2002, 3, 5),
               cs_order_number=order_no(), cs_item_sk=7)

    # --- q21: items priced 0.99..1.49 with balanced inventory around
    # 2000-03-11 (planted 20k dominates ≤1k-noise rows in the window)
    for item_sk in (102, 103, 104):
        items[item_sk - 1]["i_current_price"] = decimal.Decimal("1.25")
        for d, qty in (((2000, 2, 20), 20000), ((2000, 3, 20), 20000)):
            mk("inventory", inv_date_sk=_date_sk(*d),
               inv_item_sk=item_sk, inv_warehouse_sk=1,
               inv_quantity_on_hand=qty)

    # --- q39: per-(item, warehouse) inventory with cov = stdev/mean >
    # 1 in BOTH January and February 2001
    for m in (1, 2):
        for day, qty in ((5, 0), (12, 0), (19, 30000)):
            mk("inventory", inv_date_sk=_date_sk(2001, m, day),
               inv_item_sk=103, inv_warehouse_sk=1,
               inv_quantity_on_hand=qty)

    # --- q72: catalog line shipping >5 days out, inventory in the SAME
    # week short of the ordered quantity, '>10000' household, 'D'
    # marital demographics, d1.d_year = 1999
    mk("catalog_sales", cs_item_sk=104,
       cs_sold_date_sk=_date_sk(1999, 5, 3),
       cs_ship_date_sk=_date_sk(1999, 5, 13),
       cs_order_number=order_no(), cs_quantity=5000,
       cs_bill_hdemo_sk=_find_hd(hds, ">10000"),
       cs_bill_cdemo_sk=_find_cd(cds, "D", "2 yr Degree"))
    mk("inventory", inv_date_sk=_date_sk(1999, 5, 5),
       inv_item_sk=104, inv_warehouse_sk=1, inv_quantity_on_hand=10)

    # --- q23: a frequent store item (>4 same-item-same-date store
    # lines in 2000-2003), a dominant store customer, and that
    # customer buying the frequent item via catalog+web in Feb 2000
    freq_item, best_cust = 107, 9
    for _ in range(6):
        mk("store_sales", ss_item_sk=freq_item,
           ss_sold_date_sk=_date_sk(2000, 2, 10),
           ss_customer_sk=best_cust, ss_ticket_number=order_no(),
           ss_quantity=10, ss_sales_price=10)
    big = order_no()
    for _ in range(10):
        mk("store_sales", ss_item_sk=freq_item,
           ss_sold_date_sk=_date_sk(2001, 7, 4),
           ss_customer_sk=best_cust, ss_ticket_number=big,
           ss_quantity=99, ss_sales_price=99000)
    mk("catalog_sales", cs_item_sk=freq_item,
       cs_bill_customer_sk=best_cust,
       cs_sold_date_sk=_date_sk(2000, 2, 15),
       cs_order_number=order_no(), cs_quantity=5, cs_list_price=200)
    mk("web_sales", ws_item_sk=freq_item,
       ws_bill_customer_sk=best_cust,
       ws_sold_date_sk=_date_sk(2000, 2, 16),
       ws_order_number=order_no(), ws_quantity=5, ws_list_price=200)

    # --- q41: a manufact group with one member matching the query's
    # category/color/units/size combo, anchored in manufact_id 738..778
    items[108].update(i_manufact_id=750, i_manufact="plantmanufact",
                      i_product_name="plant product one")
    items[109].update(i_manufact="plantmanufact", i_category="Women",
                      i_color="powder", i_units="Ounce",
                      i_size="medium")

    # --- q49: December-2001 sales with matched >10000 returns in all
    # three channels (profit > 1, paid > 0, quantity > 0)
    for table, p, rt, rp, amt_col in (
        ("web_sales", "ws", "web_returns", "wr", "wr_return_amt"),
        ("catalog_sales", "cs", "catalog_returns", "cr",
         "cr_return_amount"),
        ("store_sales", "ss", "store_returns", "sr", "sr_return_amt"),
    ):
        no = order_no()
        no_col = ("ss_ticket_number" if p == "ss"
                  else f"{p}_order_number")
        sale = mk(table, **{
            f"{p}_item_sk": 60, no_col: no,
            f"{p}_sold_date_sk": _date_sk(2001, 12, 10),
            f"{p}_quantity": 50, f"{p}_net_paid": 50000,
            f"{p}_net_profit": 500,
        })
        mk(rt, **{
            f"{rp}_item_sk": 60,
            (f"{rp}_ticket_number" if rp == "sr"
             else f"{rp}_order_number"): no,
            amt_col: 15000, f"{rp}_return_quantity": 25,
            f"{rp}_returned_date_sk": _date_sk(2001, 12, 20),
        })
        del sale

    # --- q54: Women/maternity catalog buyer whose address county+state
    # matches a store's, with store revenue in the following quarter
    items[104].update(i_category="Women", i_class="maternity")
    q54_cust = 20
    addrs[244].update(ca_county="Williamson County", ca_state="TN")
    custs[q54_cust - 1]["c_current_addr_sk"] = 245
    mk("catalog_sales", cs_item_sk=105, cs_bill_customer_sk=q54_cust,
       cs_sold_date_sk=_date_sk(1998, 12, 10),
       cs_order_number=order_no())
    for m in (1, 2):
        mk("store_sales", ss_customer_sk=q54_cust,
           ss_sold_date_sk=_date_sk(1999, m, 15),
           ss_ticket_number=order_no(), ss_item_sk=8,
           ss_ext_sales_price=123)

    # --- q58: one item whose store/catalog/web revenue in the week of
    # 2000-01-03 agree within 10% (planted 270k/channel vs ≤5k noise)
    for table, p in (("store_sales", "ss"), ("catalog_sales", "cs"),
                     ("web_sales", "ws")):
        no = order_no()
        no_col = ("ss_ticket_number" if p == "ss"
                  else f"{p}_order_number")
        for _ in range(3):
            mk(table, **{
                f"{p}_item_sk": 106, no_col: no,
                f"{p}_sold_date_sk": _date_sk(2000, 1, 3),
                f"{p}_ext_sales_price": 90000,
            })

    # --- q64: purple 65..74-priced item bought through a fully-keyed
    # store chain (demographics, household, address, promo, matched
    # store return) in 1999 twice and 2000 once, with a catalog
    # sale>2*refund history and a customer whose current marital status
    # differs from the purchase-time one
    q64_item, q64_cust, q64_store = 101, 22, 1
    items[q64_item - 1].update(
        i_color="purple", i_current_price=decimal.Decimal("65.50"))
    cd_at_sale = _find_cd(cds, "D", "2 yr Degree")
    custs[q64_cust - 1].update(
        c_current_cdemo_sk=_find_cd(cds, "M", "2 yr Degree"),
        c_current_hdemo_sk=2, c_current_addr_sk=30)
    cs_no = order_no()
    for _ in range(5):
        mk("catalog_sales", cs_item_sk=q64_item, cs_order_number=cs_no,
           cs_ext_list_price=90000,
           cs_sold_date_sk=_date_sk(1999, 2, 1))
    mk("catalog_returns", cr_item_sk=q64_item, cr_order_number=cs_no,
       cr_refunded_cash=100, cr_reversed_charge=50, cr_store_credit=50,
       cr_returned_date_sk=_date_sk(1999, 3, 1))
    for y, tickets in ((1999, 2), (2000, 1)):
        for _ in range(tickets):
            t_no = order_no()
            mk("store_sales", ss_item_sk=q64_item,
               ss_customer_sk=q64_cust, ss_store_sk=q64_store,
               ss_cdemo_sk=cd_at_sale, ss_hdemo_sk=1, ss_addr_sk=10,
               ss_promo_sk=3, ss_ticket_number=t_no,
               ss_sold_date_sk=_date_sk(y, 3, 10),
               ss_wholesale_cost=30, ss_list_price=80,
               ss_coupon_amt=0)
            mk("store_returns", sr_item_sk=q64_item,
               sr_ticket_number=t_no,
               sr_returned_date_sk=_date_sk(y, 4, 1))

    # --- q85: web sale+return with matching refunded/returning
    # demographics ('M' + 'Advanced Degree', price 100..150), a
    # refund address in the IN/OH/NJ group, profit 100..200
    cd_ma = _find_cd(cds, "M", "Advanced Degree")
    addrs[245].update(ca_state="OH", ca_country="United States")
    q85_no = order_no()
    mk("web_sales", ws_item_sk=50, ws_order_number=q85_no,
       ws_sold_date_sk=_date_sk(2000, 6, 5), ws_web_page_sk=3,
       ws_sales_price=120, ws_net_profit=150, ws_quantity=10)
    mk("web_returns", wr_item_sk=50, wr_order_number=q85_no,
       wr_refunded_cdemo_sk=cd_ma, wr_returning_cdemo_sk=cd_ma,
       wr_refunded_addr_sk=246, wr_reason_sk=5,
       wr_refunded_cash=500, wr_fee=20, wr_return_quantity=5,
       wr_returned_date_sk=_date_sk(2000, 7, 1))

    # --- q91: November-1998 catalog return by a customer whose current
    # demographics hit the 'M'/'Unknown' + 'Unknown%' household +
    # gmt -7 filter chain
    q91_cust = 21
    addrs[246].update(ca_gmt_offset=decimal.Decimal(-7))
    custs[q91_cust - 1].update(
        c_current_cdemo_sk=_find_cd(cds, "M", "Unknown"),
        c_current_hdemo_sk=_find_hd(hds, "Unknown"),
        c_current_addr_sk=247)
    mk("catalog_returns", cr_call_center_sk=2,
       cr_returned_date_sk=_date_sk(1998, 11, 15),
       cr_returning_customer_sk=q91_cust, cr_net_loss=321,
       cr_item_sk=11, cr_order_number=order_no())


def _fk_for(col: str) -> "str | None":
    for suf, dim in _FK.items():
        if col.endswith(suf):
            return dim
    return None


def ensure(root: str) -> dict[str, str]:
    """Generate (once) the 24 parquet tables under ``root``; returns
    table -> path. Deterministic: same seed, same bytes-independent
    values (parquet metadata may differ run to run; values never)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from glaredb_spark.sources.parquet_testing import _pa_type, tpcds_schemas

    os.makedirs(root, exist_ok=True)
    schemas = tpcds_schemas()
    out = {t: os.path.join(root, f"{t}.parquet") for t in schemas}
    if all(os.path.exists(p) for p in out.values()):
        return out
    rng = random.Random(20130)
    date_sks = [JULIAN_1998 + i for i in range(_DAYS)]
    time_sks = [i * 60 for i in range(_ROWS["time_dim"])]

    def fact_date(rng):
        # concentrate on the 1998-2002 window the filters target
        return rng.choice(date_sks)

    rows_by_table: dict[str, list[dict]] = {}

    def build(table: str) -> list[dict]:
        cols = schemas[table]
        n = _ROWS[table]
        # variable ticket/order sizes (1..25 lines): the cnt-window
        # queries (q34/q73-style HAVING cnt BETWEEN 15 AND 20) need
        # some large baskets to exist
        group_no, g = [], 0
        while len(group_no) < n:
            g += 1
            group_no.extend([g] * rng.randrange(1, 26))
        group_shared: dict[int, dict] = {}
        rows = []
        for i in range(n):
            if table == "date_dim":
                rows.append(_calendar(i))
                continue
            if table == "time_dim":
                rows.append(_time_row(i))
                continue
            if table == "customer_demographics":
                rows.append(_cd_row(i))
                continue
            if table == "household_demographics":
                rows.append(_hd_row(i))
                continue
            r: dict = {}
            shared_cols = _GROUP_SHARED.get(table, ())
            g = group_no[i] if shared_cols else None
            for c, typ in cols:
                dim = _fk_for(c)
                # a table's OWN key is its first column — but facts
                # start with a date FK, so the date/time rules win
                first_sk = (
                    c == cols[0][0] and c.endswith("_sk")
                    and not c.endswith(("_date_sk", "_time_sk"))
                )
                if first_sk:
                    r[c] = i + 1
                elif c.endswith("_date_sk"):
                    if table == "inventory":
                        # weekly snapshots (dsdgen convention): dense
                        # per-(item, warehouse, week) buckets, and the
                        # week-seq equality joins (q72) can match
                        r[c] = JULIAN_1998 + (
                            rng.randrange(_DAYS) // 7
                        ) * 7
                    else:
                        r[c] = fact_date(rng)
                elif c.endswith("_time_sk"):
                    r[c] = rng.choice(time_sks)
                elif dim is not None:
                    r[c] = rng.randrange(1, _ROWS[dim] + 1)
                elif c.endswith("_sk"):
                    r[c] = rng.randrange(1, 100)
                elif c == "ss_ticket_number" or c in (
                        "cs_order_number", "ws_order_number"):
                    r[c] = group_no[i]
                else:
                    r[c] = _generic(c, typ, i, rng, n)
                # a ticket/order's lines SHARE the sale-level columns;
                # the NULL chance applies at the GROUP level (a basket
                # sold with no recorded store/customer — the channel-
                # union queries filter ON these NULL keys, q76)
                if g is not None and c in shared_cols:
                    gv = group_shared.setdefault(g, {})
                    if c not in gv:
                        gv[c] = None if (
                            not c.endswith("_date_sk")
                            and rng.random() < 0.04
                        ) else r[c]
                    r[c] = gv[c]
                # sparse NULLs in nullable fact measures/FKs (never in
                # line identity, group-shared sale columns, or the
                # primary key — a NULL on one line of a shared column
                # would break the basket grouping)
                if (
                    table.endswith(("_sales", "_returns"))
                    and not first_sk
                    and c not in shared_cols
                    and c not in ("ss_ticket_number", "cs_order_number",
                                  "ws_order_number", "ss_item_sk",
                                  "cs_item_sk", "ws_item_sk",
                                  "sr_item_sk", "cr_item_sk",
                                  "wr_item_sk")
                    and rng.random() < 0.03
                ):
                    r[c] = None
            rows.append(r)
        return rows

    dims = [t for t in schemas if not t.endswith(("_sales", "_returns"))]
    for t in dims:
        rows_by_table[t] = build(t)
    for t in ("store_sales", "catalog_sales", "web_sales", "inventory"):
        rows_by_table[t] = build(t)
    # cross-channel overlap: the multi-channel queries (q10/q23/q25/
    # q29/q64-style) join the SAME customer buying the SAME item across
    # channels — give a third of catalog/web lines a store-sales
    # (customer, item) pair. Same-order lines keep their order number,
    # so the returns link below stays consistent.
    ss_rows = rows_by_table["store_sales"]
    for t, cust_col, item_col, order_col in (
        ("catalog_sales", "cs_bill_customer_sk", "cs_item_sk",
         "cs_order_number"),
        ("web_sales", "ws_bill_customer_sk", "ws_item_sk",
         "ws_order_number"),
    ):
        by_order: dict[int, list[dict]] = {}
        for r in rows_by_table[t]:
            by_order.setdefault(r[order_col], []).append(r)
        for lines in by_order.values():
            if rng.random() < 0.33:
                # whole-order patch: intra-order customer consistency
                # survives; each line gets its own store item
                src = rng.choice(ss_rows)
                cust = src["ss_customer_sk"]
                for line in lines:
                    if cust is not None:
                        line[cust_col] = cust
                    item = rng.choice(ss_rows)["ss_item_sk"]
                    if item is not None:
                        line[item_col] = item
    # returns reference EXISTING sale line items so the (item, ticket/
    # order) return joins the queries perform are non-empty
    link = {
        "store_returns": ("store_sales", "ss", "sr", "ss_ticket_number",
                          "sr_ticket_number"),
        "catalog_returns": ("catalog_sales", "cs", "cr",
                            "cs_order_number", "cr_order_number"),
        "web_returns": ("web_sales", "ws", "wr", "ws_order_number",
                        "wr_order_number"),
    }
    for t, (sales_t, sp, rp, s_no, r_no) in link.items():
        rows = build(t)
        sales = rows_by_table[sales_t]
        for r in rows:
            s = rng.choice(sales)
            r[f"{rp}_item_sk"] = s[f"{sp}_item_sk"]
            if r_no in r:
                r[r_no] = s[s_no]
            # return shortly after the sale, customer carried over
            sold = s[f"{sp}_sold_date_sk"]
            if sold is not None:
                r[f"{rp}_returned_date_sk"] = min(
                    sold + rng.randrange(1, 61), date_sks[-1]
                )
            for src, dst in (
                (f"{sp}_customer_sk", f"{rp}_customer_sk"),
                ("ss_customer_sk", "sr_customer_sk"),
                ("cs_bill_customer_sk", "cr_returning_customer_sk"),
                ("ws_bill_customer_sk", "wr_returning_customer_sk"),
            ):
                if src in s and dst in r and s[src] is not None:
                    r[dst] = s[src]
        rows_by_table[t] = rows

    # plant the deep-correlation cohorts (q04/q10/q21/q23/q39/q41/q49/
    # q54/q58/q64/q72/q85/q91) — see _plant
    _plant(rows_by_table, rng)

    for t, rows in rows_by_table.items():
        cols = schemas[t]
        arrays = []
        for c, typ in cols:
            vals = [r.get(c) for r in rows]
            if typ.startswith("Decimal"):
                q = decimal.Decimal(1).scaleb(
                    -int(typ.split(",")[1].rstrip(")"))
                )
                vals = [
                    None if v is None
                    else decimal.Decimal(v).quantize(q)
                    for v in vals
                ]
            arrays.append(pa.array(vals, type=_pa_type(typ)))
        pq.write_table(
            pa.table(dict(zip([c for c, _ in cols], arrays))),
            out[t] + ".tmp", compression="snappy",
        )
        os.replace(out[t] + ".tmp", out[t])
    return out
