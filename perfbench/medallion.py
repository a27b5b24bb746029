"""Seeded inputs for the medallion_daily workload, and the expected final
layers re-derived from those inputs without the program.

Four entities are generated, with the raw columns the silver transforms
read (graft.silver.Silver). Day 1 is a bulk load; every later day is a
delta of `delta_share` of the bulk size, `update_share` of it updates to
keys seen before and the rest new keys. `dup_share` of each batch's rows
are repeated inside the batch: exact copies, and for users the same
address in other letter case with padding, which silver's email key
normalises away. Within a day a key carries one content, so "latest"
is well defined: the last day a key appeared in.
"""
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ENTITIES = ("products", "carts", "users", "orders")
KEYS = {"products": "product_id", "carts": "cart_id", "users": "email",
        "orders": "order_id"}
DAY_MS = 86_400_000
CATEGORIES = np.array(["beauty", "books", "electronics", "fragrances", "furniture",
                       "groceries", "home", "jewelery", "laptops", "shoes",
                       "sports", "toys"])


def _versions(rng, entity, ids, day, shape):
    """One content version per id for `entity` on `day`."""
    n = len(ids)
    if entity == "products":
        cents = rng.integers(100, 50_000, n)
        cents[rng.random(n) < 0.02] = 0
        return pd.DataFrame({
            "id": ids, "title": [f"product {i} v{day}" for i in ids],
            "price": cents / 100.0, "category": CATEGORIES[rng.integers(0, 12, n)]})
    if entity == "carts":
        # whole-unit totals keep the discount percentage exact in binary
        units = rng.integers(1, 2_000, n).astype(np.float64)
        units[rng.random(n) < 0.01] = 0.0
        pct = rng.integers(0, 41, n)
        return pd.DataFrame({
            "id": ids, "userId": rng.integers(1, shape["users"] + 1, n),
            "total": units, "discountedTotal": units * (100 - pct) / 100.0})
    if entity == "users":
        first = np.array(["ann", "bo", "cy", "di", "ed", "flo", "gus", "hal"])
        return pd.DataFrame({
            "id": ids, "email": [f"user{i}@example.com" for i in ids],
            "firstname": first[rng.integers(0, 8, n)],
            "lastname": [f"l{day}x{v}" for v in rng.integers(0, 1000, n)]})
    cents = rng.integers(100, 100_000, n)
    final = np.round(cents * 0.9) / 100.0
    final[rng.random(n) < 0.05] = np.nan
    return pd.DataFrame({
        "id": ids, "userId": rng.integers(1, shape["users"] + 1, n),
        "total_amount": cents / 100.0, "final_amount": final})


def _duplicates(rng, entity, batch, share):
    dup = batch.sample(frac=share, random_state=rng.integers(0, 2**31))
    if entity == "users":
        upper = rng.random(len(dup)) < 0.5
        dup = dup.copy()
        dup.loc[upper, "email"] = ["  " + e.upper() + " " for e in dup.loc[upper, "email"]]
    return dup


def generate(seed, shape):
    """Returns {day: {entity: DataFrame}} for days 1..shape['days']."""
    rng = np.random.default_rng(seed)
    days = {}
    next_id = {e: shape[e] + 1 for e in ENTITIES}
    for day in range(1, shape["days"] + 1):
        batches = {}
        for e in ENTITIES:
            if day == 1:
                ids = np.arange(1, shape[e] + 1)
            else:
                n = max(1, round(shape[e] * shape["delta_share"]))
                n_upd = round(n * shape["update_share"])
                upd = rng.choice(next_id[e] - 1, n_upd, replace=False) + 1
                new = np.arange(next_id[e], next_id[e] + n - n_upd)
                next_id[e] += n - n_upd
                ids = np.concatenate([upd, new])
            batch = _versions(rng, e, ids, day, shape)
            batch = pd.concat([batch, _duplicates(rng, e, batch, shape["dup_share"])])
            batches[e] = batch.sample(frac=1.0, random_state=rng.integers(0, 2**31)) \
                .reset_index(drop=True)
        days[day] = batches
    return days


def input_digest(days):
    h = hashlib.sha256()
    for day in sorted(days):
        for e in ENTITIES:
            h.update(f"{day}/{e}".encode())
            h.update(pd.util.hash_pandas_object(days[day][e], index=False).values.tobytes())
    return h.hexdigest()


def write(days, out_dir):
    for day, batches in days.items():
        d = os.path.join(out_dir, f"day{day}")
        os.makedirs(d, exist_ok=True)
        for e, df in batches.items():
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                           os.path.join(d, f"{e}.parquet"))


def batch_rows(days):
    return {day: sum(len(df) for df in b.values()) for day, b in days.items()}


def _silver_version(entity, df, day, day0_ms):
    ts = day0_ms + (day - 1) * DAY_MS
    if entity == "products":
        out = pd.DataFrame({"product_id": df["id"], "title": df["title"],
                            "price": df["price"], "category": df["category"],
                            "is_available": df["price"] > 0})
    elif entity == "carts":
        t, dt = df["total"], df["discountedTotal"]
        pct = np.where(t > 0, np.round((t - dt) / t.where(t > 0, 1.0) * 100, 2), 0.0)
        out = pd.DataFrame({"cart_id": df["id"], "user_id": df["userId"],
                            "total_value": t, "discount_percentage": pct})
    elif entity == "users":
        out = pd.DataFrame({"user_id": df["id"],
                            "email": df["email"].str.strip().str.lower(),
                            "full_name": (df["firstname"] + " " + df["lastname"]).str.strip()})
    else:
        out = pd.DataFrame({"order_id": df["id"], "user_id": df["userId"],
                            "total_amount": df["total_amount"],
                            "final_amount": df["final_amount"].fillna(df["total_amount"])})
    out["last_updated_ms"] = ts
    return out


def expected(days, day0_ms):
    """Final silver tables, gold marts and audit row count after every
    day has run, following the reference semantics: silver keeps each
    key's latest version; each day re-derives the marts from silver and
    upserts them by event date, so a date no longer present keeps the
    row its last publication wrote."""
    silver = {e: None for e in ENTITIES}
    finance, operations, sales = {}, {}, {}
    for day in sorted(days):
        for e in ENTITIES:
            v = _silver_version(e, days[day][e], day, day0_ms).drop_duplicates(KEYS[e])
            cur = silver[e]
            silver[e] = v if cur is None else pd.concat(
                [cur[~cur[KEYS[e]].isin(v[KEYS[e]])], v], ignore_index=True)
        carts = silver["carts"]
        n_products = len(silver["products"])
        for ts, g in carts.groupby("last_updated_ms"):
            date = int(ts // DAY_MS)
            cents = int(np.round(g["total_value"] * 100).astype(np.int64).sum())
            finance[date] = {"events_count": len(g), "total_value_cents": cents,
                             "unique_users": g["user_id"].nunique()}
            operations[date] = {"carts_processed": len(g),
                                "avg_discount_percentage":
                                    float(g["discount_percentage"].mean())}
            sales[date] = {"total_carts": len(g), "customer_count": g["user_id"].nunique(),
                           "product_count": n_products}
    return {"silver": silver, "finance_mart": finance, "operations_mart": operations,
            "sales_mart": sales, "audit_rows": len(days)}


def _ms(col):
    return col.astype("datetime64[ms]").astype(np.int64)


def check(layers_dir, exp):
    """Compares the program's final layers with `exp`; returns a list of
    mismatch descriptions, empty when every check passes."""
    errs = []
    for e in ENTITIES:
        key = KEYS[e]
        got = pq.read_table(os.path.join(layers_dir, "silver", e)).to_pandas()
        want = exp["silver"][e]
        got = got.assign(last_updated_ms=_ms(got["last_updated"])).drop(columns="last_updated")
        if len(got) != got[key].nunique():
            errs.append(f"silver.{e}: duplicate keys")
        if len(got) != len(want):
            errs.append(f"silver.{e}: {len(got)} rows, expected {len(want)}")
            continue
        m = want.merge(got, on=key, how="left", suffixes=("", "_got"), indicator=True)
        if (m["_merge"] != "both").any():
            errs.append(f"silver.{e}: keys differ")
            continue
        for c in want.columns:
            if c == key:
                continue
            a, b = m[c], m[c + "_got"]
            if a.dtype.kind == "f":
                bad = ~np.isclose(a.to_numpy(float), b.to_numpy(float), rtol=1e-12, atol=1e-9)
            else:
                bad = a.to_numpy() != b.to_numpy()
            if bad.any():
                errs.append(f"silver.{e}.{c}: {int(bad.sum())} rows differ")
    marts = {}
    for name in ("finance_mart", "operations_mart", "sales_mart"):
        df = pq.read_table(os.path.join(layers_dir, "gold", name)).to_pandas()
        df["date"] = pd.to_datetime(df["event_date"]).astype("datetime64[s]") \
            .astype(np.int64) // 86400
        if df["date"].duplicated().any():
            errs.append(f"gold.{name}: duplicate dates")
        marts[name] = df.set_index("date")
        if set(marts[name].index) != set(exp[name]):
            errs.append(f"gold.{name}: dates differ")
            return errs
    for date, w in exp["finance_mart"].items():
        g = marts["finance_mart"].loc[date]
        total = w["total_value_cents"] / 100.0
        if (g["events_count"] != w["events_count"] or g["unique_users"] != w["unique_users"]
                or not np.isclose(g["total_value"], total, rtol=1e-12, atol=1e-6)
                or not np.isclose(g["avg_value"], total / w["events_count"], rtol=1e-9)):
            errs.append(f"gold.finance_mart: day {date} differs")
    for date, w in exp["operations_mart"].items():
        g = marts["operations_mart"].loc[date]
        if (g["carts_processed"] != w["carts_processed"] or not np.isclose(
                g["avg_discount_percentage"], w["avg_discount_percentage"], rtol=1e-9)):
            errs.append(f"gold.operations_mart: day {date} differs")
    for date, w in exp["sales_mart"].items():
        g = marts["sales_mart"].loc[date]
        if any(g[k] != v for k, v in w.items()):
            errs.append(f"gold.sales_mart: day {date} differs")
    audit = pq.read_table(os.path.join(layers_dir, "audit")).to_pandas()
    if len(audit) != exp["audit_rows"] or (audit["status"] != "success").any() \
            or audit["runId"].nunique() != exp["audit_rows"]:
        errs.append(f"audit: {len(audit)} rows, expected {exp['audit_rows']} successes")
    return errs
