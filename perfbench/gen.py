"""Seeded input generator for the benchmark workloads.

Everything the engine sees is written here from ``seed`` alone, under a
work directory inside the checkout. The same seed gives byte-identical
files. Each generator returns a plain dict describing where the files are
and the exact counts it planted, so the output checks can compare against
numbers known before the engine runs.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CITIES = ["Moscow", "Kazan", "Samara", "Omsk", "Tula", "Perm",
          "Ufa", "Sochi", "Tver", "Kursk", "Orel", "Chita"]
TX_HEADER = ("transaction_id;transaction_date;amount;card_num;"
             "oper_type;oper_result;terminal\n")
TERM_HEADER = "terminal_id,terminal_type,terminal_city,terminal_address\n"
DAY0 = dt.date(2024, 3, 1)
FAR = dt.date(2030, 12, 31)
EFF = dt.datetime(2020, 1, 1)
INF_TS = dt.datetime(9999, 12, 31)


def _ddmmyyyy(d: dt.date) -> str:
    return d.strftime("%d%m%Y")


def _euro(cents: int) -> str:
    """1234567 -> '12.345,67' (the source files' European amounts)."""
    whole, frac = divmod(cents, 100)
    return f"{whole:,}".replace(",", ".") + f",{frac:02d}"


def _ts(d: dt.date, h: int, m: int, s: int) -> dt.datetime:
    return dt.datetime(d.year, d.month, d.day, h, m, s)


# --------------------------------------------------------------------------
# nightly_batch
# --------------------------------------------------------------------------

def nightly_inputs(seed: int, out: str, nights: int, rows_per_night: int,
                   n_cards: int, n_terminals: int) -> dict:
    """A multi-day fraud-DWH inbox plus the DB-sourced dimensions.

    Background traffic is built so that no fraud rule can fire on it:
    every background card transacts at most once per odd hour (so two
    transactions of one card are always more than an hour apart), never
    has three rejects in a row, and belongs to a client with a valid,
    non-blacklisted passport and a live account. Every fraud event is
    therefore planted, and counted here.
    """
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    days = [DAY0 + dt.timedelta(days=d) for d in range(nights)]

    # terminals: the first len(CITIES) are "stable" (one per city, never
    # change) and host every planted pattern; the rest drift city nightly
    n_stable = len(CITIES)
    term_ids = [f"T{i:04d}" for i in range(n_terminals)]
    city = {t: CITIES[i % n_stable] if i < n_stable else rng.choice(CITIES)
            for i, t in enumerate(term_ids)}
    ttype = {t: rng.choice(["POS", "ATM"]) for t in term_ids}
    changes_per_night = max(1, n_terminals // 50)
    term_files, city_changes = [], 0
    for d, day in enumerate(days):
        if d:
            for t in rng.sample(term_ids[n_stable:], changes_per_night):
                city[t] = rng.choice([c for c in CITIES if c != city[t]])
                city_changes += 1
        path = os.path.join(out, f"terminals_{_ddmmyyyy(day)}.csv")
        with open(path, "w") as fh:
            fh.write(TERM_HEADER)
            for t in term_ids:
                fh.write(f"{t},{ttype[t]},{city[t]},addr {t[1:]}\n")
        term_files.append(path)

    # parties: one client / account / card per card number
    clients, accounts, cards = [], [], []

    def party(kind: str, i: int, *, passport_valid_to=FAR, valid_to=FAR):
        n = len(cards)
        cid, acc = f"C{n:06d}", f"A{n:06d}"
        card = f"4{n:015d}" + ("    " if n % 2 else "")
        passport = f"{kind[0].upper()}{n:09d}" + (" " if n % 3 == 0 else "")
        clients.append((cid, f"Last{n}", f"First{n}", None if n % 4 == 0 else f"Patr{n}",
                        passport, passport_valid_to, f"+7-{n:07d}", EFF, INF_TS, "N"))
        accounts.append((acc, valid_to, cid, EFF, INF_TS, "N"))
        cards.append((card, acc, EFF, INF_TS, "N"))
        return card, passport.strip()

    bg = [party("bg", i)[0] for i in range(n_cards)]
    expired = [party("expired", i, passport_valid_to=dt.date(2023, 6, 30))[0]
               for i in range(3)]
    bl_day = {}
    for i in range(3):
        card, passport = party("listed", i)
        bl_day[card] = (1 + i % max(1, nights - 1), passport)
    closed = [party("closed", i, valid_to=days[min(2, nights - 1)])[0]
              for i in range(3)]
    hop = [party("hop", d)[0] for d in range(nights)]
    burst = [party("burst", d)[0] for d in range(nights)]
    late = [party("late", i)[0] for i in range(4)]

    per_day: list[list[str]] = [[] for _ in days]
    seq = [0]

    def row(day_i, ts, cents, card, otype, result, term, *, tid=None, raw_ts=None,
            raw_amt=None):
        seq[0] += 1
        tid = tid or f"{seq[0]:012d}"
        line = (f"{tid};{raw_ts or ts.strftime('%Y-%m-%d %H:%M:%S')};"
                f"{raw_amt or _euro(cents)};{card};{otype};{result};{term}\n")
        per_day[day_i].append(line)
        return line

    stable = term_ids[:n_stable]
    rule = {1: 0, 2: 0, 3: 0, 4: 0}
    # background: distinct (card, odd-hour slot) pairs per day, chronological
    # per card, with a per-card reject run capped at two
    slots = 11
    run_rejects = {c: 0 for c in bg}
    bg_lines_by_day: list[list[str]] = [[] for _ in days]
    for d, day in enumerate(days):
        picks = sorted(rng.sample(range(len(bg) * slots), rows_per_night))
        for p in picks:
            card, s = bg[p // slots], p % slots
            ts = _ts(day, 2 * s + 1, rng.randrange(60), rng.randrange(60))
            result = "SUCCESS"
            if run_rejects[card] < 2 and rng.random() < 0.08:
                result = "REJECT"
            run_rejects[card] = run_rejects[card] + 1 if result == "REJECT" else 0
            bg_lines_by_day[d].append(row(
                d, ts, rng.randrange(100, 5_000_000), card,
                rng.choice(["PAYMENT", "WITHDRAW", "DEPOSIT"]), result,
                rng.choice(term_ids)))

    # planted rule 1 (expired passport / blacklisted) and rule 2 (account
    # expired): one transaction a day, 09:xx, at a stable terminal
    listed_passports = {}
    for d, day in enumerate(days):
        for card in expired + list(bl_day) + closed:
            row(d, _ts(day, 9, rng.randrange(60), rng.randrange(60)),
                rng.randrange(1000, 90000), card, "PAYMENT", "SUCCESS",
                rng.choice(stable))
            if card in expired:
                rule[1] += 1
            elif card in bl_day:
                first_day, passport = bl_day[card]
                listed_passports[passport] = first_day
                rule[1] += d >= first_day
            elif day >= days[min(2, nights - 1)]:
                rule[2] += 1
        # rule 3: two transactions 30 minutes apart in different cities
        a, b = rng.sample(range(n_stable), 2)
        row(d, _ts(day, 10, 0, rng.randrange(60)), 5000, hop[d], "PAYMENT",
            "SUCCESS", stable[a])
        row(d, _ts(day, 10, 30, rng.randrange(60)), 6000, hop[d], "PAYMENT",
            "SUCCESS", stable[b])
        rule[3] += 1
        # rule 4: three rejects with falling amounts, then a success,
        # inside 20 minutes, one terminal
        term = rng.choice(stable)
        for k, (cents, res) in enumerate([(50000, "REJECT"), (40000, "REJECT"),
                                          (30000, "REJECT"), (20000, "SUCCESS")]):
            row(d, _ts(day, 11, 4 * k, rng.randrange(60)), cents, burst[d],
                "WITHDRAW", res, term)
        rule[4] += 1

    # malformed rows (quarantined) and re-delivered duplicates
    malformed = 0
    duplicates = 0
    for d, day in enumerate(days):
        for k in range(rng.randrange(3, 9)):
            ts = _ts(day, 23, rng.randrange(60), rng.randrange(60))
            if k % 2:
                row(d, ts, 0, rng.choice(bg), "PAYMENT", "SUCCESS", stable[0],
                    tid=f"M{d:03d}{k:08d}", raw_ts="BROKEN-DATE")
            else:
                row(d, ts, 0, rng.choice(bg), "PAYMENT", "SUCCESS", stable[0],
                    tid=f"M{d:03d}{k:08d}", raw_amt="1.2x3,00")
            malformed += 1
        if d:
            dup = rng.sample(bg_lines_by_day[d - 1], min(40, len(bg_lines_by_day[d - 1])))
            per_day[d].extend(dup)
            duplicates += len(dup)

    tx_files = []
    for d, day in enumerate(days):
        lines = per_day[d]
        rng.shuffle(lines)
        path = os.path.join(out, f"transactions_{_ddmmyyyy(day)}.txt")
        with open(path, "w") as fh:
            fh.write(TX_HEADER)
            fh.writelines(lines)
        tx_files.append([path])

    # one late-arriving file: delivered with the last night, carrying rows
    # from the day before, older than the report watermark (one pair of
    # them completes a rule-3 hop)
    late_night = nights - 1
    if late_night >= 1:
        old = days[late_night - 1]
        a, b = rng.sample(range(n_stable), 2)
        lines = [
            f"L{late_night:03d}00000001;{_ts(old, 14, 0, 5)};60,00;{late[0]};PAYMENT;SUCCESS;{stable[a]}\n",
            f"L{late_night:03d}00000002;{_ts(old, 14, 30, 5)};70,00;{late[0]};PAYMENT;SUCCESS;{stable[b]}\n",
        ] + [
            f"L{late_night:03d}0000001{i};{_ts(old, 15, i, 5)};80,00;{late[i]};PAYMENT;SUCCESS;{stable[i]}\n"
            for i in range(1, len(late))
        ]
        rule[3] += 1
        path = os.path.join(out, f"transactions_late_{_ddmmyyyy(days[late_night])}.txt")
        with open(path, "w") as fh:
            fh.write(TX_HEADER)
            fh.writelines(lines)
        tx_files[late_night].append(path)
        late_rows = len(lines)
    else:
        late_rows = 0

    # blacklist files: the planted passports on their listing day, plus
    # passports that belong to nobody
    bl_files: list[list[str]] = [[] for _ in days]
    bl_entries = 0
    for d, day in enumerate(days):
        listed = [p for p, first in listed_passports.items() if first == d]
        noise = [f"X{d:03d}{i:06d}" for i in range(rng.randrange(2, 6))]
        path = os.path.join(out, f"passport_blacklist_{_ddmmyyyy(day)}.xlsx.csv")
        with open(path, "w") as fh:
            fh.write("date;passport\n")
            for p in listed + noise:
                fh.write(f"{day.isoformat()};{p}\n")
        bl_files[d].append(path)
        bl_entries += len(listed) + len(noise)

    clean_rows = seq[0] - malformed + late_rows
    dims_dir = os.path.join(out, "dims")
    _write_dims(dims_dir, clients, accounts, cards)
    return {
        "nights": [
            {"date": day.isoformat(),
             "clock": (dt.datetime.combine(day, dt.time(1, 17)) + dt.timedelta(days=1)).isoformat(" "),
             "files": tx_files[d] + bl_files[d] + [term_files[d]]}
            for d, day in enumerate(days)
        ],
        "dims_dir": dims_dir,
        "expected": {
            "fact_rows": clean_rows,
            "quarantined": malformed,
            "duplicates": duplicates,
            "late_rows": late_rows,
            "blacklist_entries": bl_entries,
            "terminal_versions": n_terminals + city_changes,
            "city_changes": city_changes,
            "rule_counts": {str(k): v for k, v in rule.items()},
        },
    }


def _write_dims(out: str, clients, accounts, cards) -> None:
    os.makedirs(out, exist_ok=True)
    ts = pa.timestamp("us", tz="UTC")

    def write(name, rows, schema):
        cols = list(zip(*rows))
        table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                         schema=schema)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))

    s = pa.string()
    write("clients", clients, pa.schema([
        ("client_id", s), ("last_name", s), ("first_name", s), ("patronymic", s),
        ("passport_num", s), ("passport_valid_to", pa.date32()), ("phone", s),
        ("effective_from", ts), ("effective_to", ts), ("deleted_flg", s)]))
    write("accounts", accounts, pa.schema([
        ("account_num", s), ("valid_to", pa.date32()), ("client", s),
        ("effective_from", ts), ("effective_to", ts), ("deleted_flg", s)]))
    write("cards", cards, pa.schema([
        ("card_num", s), ("account_num", s), ("effective_from", ts),
        ("effective_to", ts), ("deleted_flg", s)]))
    write("blacklist", [(dt.date(2000, 1, 1), "NOBODY")],
          pa.schema([("entry_dt", pa.date32()), ("passport_num", s)]))


# --------------------------------------------------------------------------
# corpus: TPC-H-shaped star schema + events/documents/embeddings
# --------------------------------------------------------------------------

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 100, n)
    words = np.array(VOCAB)
    return [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]


def corpus_tables(seed: int, out: str, sf: float) -> str:
    """Write the ten corpus tables (one parquet file each, the layout the
    query registry reads) at scale ``sf``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def n(base: float) -> int:
        return max(1, int(round(base * sf)))

    def write(name, cols: dict):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    us = pa.timestamp("us")
    n_nat, n_reg = 25, 5
    write("region", {"r_regionkey": pa.array(np.arange(n_reg), pa.int32()),
                     "r_name": pa.array(REGIONS[:n_reg], pa.string())})
    write("nation", {"n_nationkey": pa.array(np.arange(n_nat), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(n_nat)], pa.string()),
                     "n_regionkey": pa.array(np.arange(n_nat) % 5, pa.int32())})
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line = n(1_500_000), n(6_000_000)
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
            pa.string())})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                       "STANDARD"], n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 1))})
    day = np.timedelta64(1, "D")
    odate = np.datetime64("1995-01-01") + rng.integers(0, 2400, n_ord) * day
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(1, n_cust), n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), us),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
            pa.string())})
    okey = np.sort(rng.integers(0, max(1, n_ord), n_line))
    lineno = np.ones(n_line, dtype=np.int32)
    if n_line:
        same = np.concatenate([[False], okey[1:] == okey[:-1]])
        grp = np.cumsum(~same)
        start = np.flatnonzero(~same)
        lineno = (np.arange(n_line) - start[grp - 1] + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_line).astype(float)
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2500, n_line) * day
    write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, n_part), n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, n_supp), n_line), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), us)})
    n_ev = n(1_000_000)
    gaps = rng.exponential(260.0, n_ev)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (np.cumsum(gaps) * 1e6).astype("int64").astype("timedelta64[us]"))
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, us),
        "user_id": pa.array(rng.integers(0, max(1, n(15_000)), n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"],
                                          n_ev), pa.string()),
        "value": pa.array(np.round(np.maximum(0.01, rng.exponential(50.0, n_ev)), 2)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
                          pa.string())})
    n_doc = n(50_000)
    texts = _texts(rng, n_doc)
    # near-duplicates: a tenth of the documents copy an earlier one with
    # one word changed, so the dedup families have real work
    for i in range(n_doc // 10):
        src, dst = rng.integers(0, n_doc, 2)
        words = texts[src].split()
        words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[dst] = " ".join(words)
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(["en", "en", "de", "es", "fr", "zh"], n_doc), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n_emb = n(50_000)
    vec = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    vec /= np.maximum(np.linalg.norm(vec, axis=1, keepdims=True), 1e-12)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


# --------------------------------------------------------------------------
# streams
# --------------------------------------------------------------------------

def stream_inputs(seed: int, out: str, chunks: int, docs_per_chunk: int,
                  events_per_chunk: int, users: int) -> dict:
    """Document chunks with planted cross-chunk clones, and event chunks
    whose timestamps and mtimes both increase chunk by chunk."""
    rng = np.random.default_rng(seed)
    doc_dir = os.path.join(out, "docs")
    ev_dir = os.path.join(out, "events")
    os.makedirs(doc_dir, exist_ok=True)
    os.makedirs(ev_dir, exist_ok=True)
    base_mtime = 1_700_000_000
    clones = []
    all_texts: list[str] = []
    for c in range(chunks):
        ids = np.arange(c * docs_per_chunk, (c + 1) * docs_per_chunk)
        texts = _texts(rng, docs_per_chunk)
        if c:
            # clone a few documents of earlier chunks verbatim
            for j in range(3):
                src = int(rng.integers(0, len(all_texts)))
                texts[j] = all_texts[src]
                clones.append((src, int(ids[j])))
        all_texts.extend(texts)
        path = os.path.join(doc_dir, f"docs_{c:03d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}), path)
        os.utime(path, (base_mtime + 10 * c,) * 2)
    t0 = np.datetime64("2024-02-01T00:00:00", "us")
    for c in range(chunks):
        ids = np.arange(c * events_per_chunk, (c + 1) * events_per_chunk)
        offs = np.sort(rng.integers(0, 86_400_000_000, events_per_chunk))
        ts = t0 + np.timedelta64(86_400_000_000 * c, "us") + offs.astype("timedelta64[us]")
        path = os.path.join(ev_dir, f"events_{c:03d}.parquet")
        pq.write_table(pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, users, events_per_chunk), pa.int64()),
            "event_type": pa.array(rng.choice(["click", "purchase", "view"],
                                              events_per_chunk), pa.string()),
            "value": pa.array(np.round(rng.integers(1, 20, events_per_chunk) * 5.0, 2)),
            "props": pa.array(["{}"] * events_per_chunk, pa.string())}), path)
        os.utime(path, (base_mtime + 10 * c,) * 2)
    return {"doc_dir": doc_dir, "event_dir": ev_dir, "chunks": chunks,
            "expected": {"clones": clones, "documents": chunks * docs_per_chunk,
                         "events": chunks * events_per_chunk}}
