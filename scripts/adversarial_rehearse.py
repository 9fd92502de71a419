"""Adversarial-DATA rehearsal: run registry queries against their
DuckDB oracles over a synthesized DIRTY corpus instead of the clean
shipped testdata.

The r14 adversarial sweeps worked primitive-by-primitive (tokenize
chain, vector fold, JSON, dates, PII) and found real cross-engine
divergences on exactly the inputs the shipped ASCII corpus never
exercises. This script generalizes that to WHOLE-QUERY granularity:
rebuild ``documents`` and ``embeddings`` with hostile-but-in-contract
content (unicode traps, NULL/empty text, planted exact/near/span
duplicates, dirty URLs, zero-norm / extreme-magnitude / duplicate
vectors), keep every other table shipped-clean, and rehearse the full
registry with the driver's own gate (rows + schema + order-insensitive
values, tests/oracle_util).

In-contract means the documented engine contracts stay respected:

- U+0130 ('I' with dot) is excluded from the text alphabet — the one
  KNOWN tokenize divergence (Java SpecialCasing splits, DuckDB simple-
  fold merges; demonstrated + pinned by
  test_tokenize_chain_cross_engine_property).
- Embedding components are finite floats (NaN/Inf have no defined
  ranking contract); zero-norm vectors ARE in contract (cos := -1
  floor, r13).
- ``events`` is rebuilt hostile too (part 3): ts collisions, gaps at
  EXACTLY the 30-min session boundary, extreme µs-aligned dates
  (1960 / epoch 0 / 2260 — all inside the nanos-int64 bound), shuffled
  arrival order, half-cent and huge money values, NULL values,
  NULL/''/unknown event types, dirty-JSON props. Its in-contract
  bounds: ``event_id`` is UNIQUE (streaming_event_dedup's oracle IS
  the batch table — a replayed row is the STREAM side's job to
  simulate), ``ts`` is NON-NULL, µs-aligned, and STRICTLY AFTER
  epoch (Spark initializes event-time watermarks at epoch, so any
  watermarked operator drops ts <= 0 as late-from-birth; a NULL ts
  additionally has no defined cross-engine window order — Spark
  sorts NULLS FIRST, DuckDB NULLS LAST), ``value`` is NON-NULL and
  finite (the stateful sessionizer accumulates exact int64 cents
  and guards NULL loudly; negative values ARE in contract since the
  sign-symmetric quantization fix).
- The seven TPC-H tables are rebuilt hostile too (part 4, see
  ``build_tpch``): unique non-null primary keys but dangling /
  negative / extreme foreign keys, NULL and unicode group-key
  strings, duplicate nation/region names, NULL measures, negative /
  zero / half-cent / ±2e10 money, boundary order/ship dates with
  µs-of-day from 1678 to 2261 (the pandas ns collection bound), a
  co-purchase graph with a 25-part hub order, repeated parts,
  NULL partkeys and duplicate part sets, and a constant-quantity
  returnflag group (the corr zero-variance guard). Sort-column
  contracts documented at build_tpch.

Usage:

    python scripts/adversarial_rehearse.py                  # all 100
    python scripts/adversarial_rehearse.py --only triangles,knn_ivf
    python scripts/adversarial_rehearse.py --seed 3         # new corpus

Any FAIL is a finding: either a real engine/oracle divergence to fix
or an undocumented data contract to document and gate.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The tokenize property test's adversarial alphabet (minus U+0130, the
# documented divergence): regex metacharacters, every whitespace trap
# (NEL, NBSP, ideographic space, U+2028/U+2029 via URLs below), CJK,
# an astral emoji, combining marks, fullwidth digits, ß/Σ/ς/ı.
_ALPHABET = ("abz09AZ" ".,!?#$^&*()[]{}|\\-_=+~`'\"" " \t\n\r\x0b\x0c"
             "\xa0\x85  " "中文\U0001F600" "\xe9́ı\xdfΣς"
             "０１")

_WORDS = ("the data spark query join filter group window token stream "
          "merge sort hash scan table row column agg fast slow key part "
          "naïve café 中文分析 Σigma straße 😀emoji ０１fullwidth").split()

_BOILER = ("this content is licensed under a creative commons "
           "attribution share alike license version four point zero")

_DIRTY_URLS = [
    "https://Example.COM/path/Page?utm=1#frag",
    "http://www.example.com/path/Page",
    "example.com/path/Page/",
    "  HTTPS://WWW.EXAMPLE.com/path/Page//\t",
    "https://example.com/path/Page/ ",          # the \z-vs-$ trap
    "https://example.com/path/Page/",
    "https://example.com/path/Page/ ",
    "https://other.org/API/Users",                    # path case preserved
    "https://other.org/api/users",
    "ftp://weird.scheme/keeps",                       # non-http scheme kept
    "", "   ", None,
    "https://example.com/\U0001F600/emoji",
    "https://xn--caf-dma.fr/café",
]


def _rand_text(rng: random.Random) -> str:
    n = rng.randrange(3, 40)
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _rand_junk(rng: random.Random) -> str:
    return "".join(rng.choice(_ALPHABET) for _ in range(rng.randrange(0, 80)))


def build_documents(rng: random.Random, n: int = 400):
    """(doc_id, text, lang, source, n_chars) rows with planted
    structure for every dedup/text family: exact dups, token-edit near
    dups, repeated boilerplate spans, and the degenerate text shapes
    (NULL, empty, whitespace-only, punctuation-only, unbroken CJK,
    emoji/combining-mark soup, one very long doc)."""
    rows = []
    langs = ["en", "es", "de", "zh", None, "xx", ""]
    # Per-seed pool shuffle (the r14 TPC-H fix, applied here too):
    # positional i % len indexing placed the SAME dirty URL on the
    # same row every seed — shuffling makes each seed explore
    # different URL-on-document alignments (which near-dup pair
    # shares a canonical URL, which degenerate doc carries the
    # \z-trap) while cyclic indexing still covers every pool value.
    urls = list(_DIRTY_URLS)
    rng.shuffle(urls)

    def add(text, source=None):
        i = len(rows)
        rows.append((i, text, rng.choice(langs),
                     source if source is not None
                     else urls[i % len(urls)],
                     len(text) if text is not None else None))

    # plain word-soup base corpus
    base = [_rand_text(rng) for _ in range(n // 2)]
    for t in base:
        add(t)
    # exact duplicates (same text, new id/url)
    for t in rng.sample(base, 20):
        add(t)
    # near duplicates: one token substituted / appended
    for t in rng.sample(base, 20):
        toks = t.split()
        toks[rng.randrange(len(toks))] = rng.choice(_WORDS)
        add(" ".join(toks))
    # boilerplate spans planted mid-document (span-level dedup)
    for t in rng.sample(base, 12):
        cut = rng.randrange(len(t))
        add(t[:cut] + " " + _BOILER + " " + t[cut:])
    # degenerate shapes
    add(None)
    add("")
    add("   \t\n  ")
    add(".,!?#$%")
    add("中文没有空格的一整段连续文本再长一点也只是一个词元" * 8)
    add("\U0001F600 \U0001F600a\U0001F600 éclair \xdfẞ")
    add("０１ ΣΣ σς ıstanbul")
    add(" ".join(["tok"] * 600))            # long, highly repetitive
    add(_BOILER)                            # doc == the span itself
    add("a")
    # unicode junk soup (bounded — oracle minhash unrolls in SQL)
    while len(rows) < n:
        add(_rand_junk(rng))
    return rows


def build_embeddings(rng: random.Random, dim: int = 64, n: int = 400):
    """(vec_id, embedding float32[dim], label) with zero-norm, tiny-
    and large-magnitude, duplicate, near-duplicate, antiparallel, and
    one-hot vectors. ids stay 0..n-1 (vec_id<10 are the kNN queries,
    <16 the IVF seeds — both get ordinary random vectors so the
    query/seed contracts hold)."""
    import numpy as np

    vecs = []
    for i in range(n):
        v = np.array([rng.uniform(-1, 1) for _ in range(dim)],
                     dtype=np.float64)
        vecs.append(v)
    # Planted structure in the corpus range (ids >= 16). The slots
    # and the one-hot axis are drawn per seed (r15, extending the r14
    # pool-shuffle fix): fixed ids 20-28/base-30/axis-0 meant every
    # seed planted the same hostile vector on the same id, so an
    # id-or-axis-dependent defect (bucketing, partition pruning)
    # could hide behind one fixed alignment forever.
    slots = rng.sample(range(16, n), 10)
    base = vecs[slots[9]]
    axis = np.eye(dim)[rng.randrange(dim)]
    vecs[slots[0]] = np.zeros(dim)                    # zero norm
    vecs[slots[1]] = np.zeros(dim)                    # zero-norm pair
    vecs[slots[2]] = base.copy()                      # exact duplicate
    vecs[slots[3]] = base + 1e-7                      # near duplicate
    vecs[slots[4]] = -base                            # antiparallel
    vecs[slots[5]] = axis                             # one-hot
    vecs[slots[6]] = axis * 1e18                      # huge magnitude
    vecs[slots[7]] = axis * 1e-30                     # tiny magnitude
    vecs[slots[8]] = axis * 1e18                      # huge duplicate
    rows = [(i, [float(np.float32(x)) for x in v], rng.randrange(8))
            for i, v in enumerate(vecs)]
    return rows


def _us(y, mo=1, d=1, h=0, mi=0, s=0, micro=0) -> int:
    """Exact UTC µs-since-epoch, integer arithmetic (float timestamp()
    truncation is wrong for pre-1970 instants)."""
    import datetime as dt
    delta = (dt.datetime(y, mo, d, h, mi, s, micro, tzinfo=dt.timezone.utc)
             - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc))
    return ((delta.days * 86_400 + delta.seconds) * 1_000_000
            + delta.microseconds)


# Hostile string pools for the TPC-H tables. Group-key / filter
# columns are BYTE-compared by both engines, so any unicode is in
# contract there. o_orderpriority additionally flows through upper()
# — the one full-vs-simple case-mapping surface (Java upper('ß') =
# 'SS', 'ﬁ' = 'FI'; DuckDB 'ẞ' and 'ﬁ') — so the priority pool
# excludes ß/ligatures/U+0130, the documented divergence family.
_KEY_STRINGS = [None, "", " ", "ASIA", "ASIA ", "亚细亚😀", "naïve\n",
                "A|B;C", "ß-sharp", "x" * 300]

_PRIORITIES = ["1-URGENT", "2-HIGH", "NODASH", "5-LOW-EXTRA", "-LEAD",
               "TRAIL-", "", None, "９-ＦＵＬＬ", "ürgent-mixed",
               "1-URGENT\n", " 2-high", "中-文", "3-😀"]


def build_tpch(rng: random.Random):
    """Hostile-but-in-contract TPC-H tables (adversarial part 4).

    In-contract bounds, each a DOCUMENTED engine contract:

    - Primary keys UNIQUE + NON-NULL; foreign keys may DANGLE (inner
      joins drop them on both engines) and may be negative or at the
      int32/int64 extremes.
    - o_orderdate / l_shipdate NON-NULL: they are ASC sort/window
      columns, and Spark orders ASC NULLS FIRST while DuckDB orders
      NULLS LAST (probed) — a NULL date has no defined cross-engine
      window order. Dates span 1678..2261 (the pandas ns collection
      bound) with full time-of-day microseconds.
    - o_totalprice NON-NULL (percentile rank column, same NULL-order
      reason); negative / zero / half-cent / huge values ARE in
      contract (sqrt/ln/share/corr domain guards, r14).
    - Money and quantity bounded to ±2e10 (±2e12 cents): exact in
      double (< 2^53 even after the revenue multipliers) and well
      inside the moment oracles' HUGEINT / the engine's decimal(38)
      domain (the old ~3e9-cent cap fell when the oracles'
      squared/cross products were HUGEINT-ified). Every cents
      ACCUMULATOR is decimal as of r16 (ADVICE r15: the migration
      ledger lives in ONE place — SCALING.md's money-accumulation
      section; this docstring no longer duplicates the queue), so no
      in-contract group size can overflow an engine-side sum while
      the oracle promotes.
    - Every other measure/string column may be NULL: aggregates skip
      NULLs identically, and a NULL group key groups NULLs together
      on both engines.
    """
    # Per-seed pool shuffles: the hostile values are pattern-indexed
    # (i % len(pool)), so without this every seed would place the
    # same hostile value on the same row — shuffling the pools makes
    # each seed explore DIFFERENT alignments (which rows are NULL,
    # which orders carry the half-cent, which flag meets which
    # status) while cyclic indexing still covers every pool value.
    def shuffled(pool):
        p = list(pool)
        rng.shuffle(p)
        return p

    key_strings = shuffled(_KEY_STRINGS)
    priorities = shuffled(_PRIORITIES)

    # --- region / nation: duplicate names, dangling refs ---------------
    region = [(0, "ASIA"), (1, "EUROPE"), (2, None), (3, ""),
              (4, "亚细亚 😀"), (-5, "ASIA "), (6, "ASIA"),
              (2147483647, "MIDDLE EAST\n")]
    nation = []
    asia_keys = (0, 6, -5)
    for i in range(14):
        if i < 6:       # nations in an ASIA-named region
            rk = asia_keys[i % len(asia_keys)]
        elif i < 10:
            rk = 1
        elif i == 10:
            rk = 99                           # dangling region
        elif i == 11:
            rk = None
        else:
            rk = rng.choice((2, 3, 4))
        name = ["NIPPON", "NIPPON", None, "", "中国", "FRANCE\n",
                "GERMANY", "ROMANIA", "x" * 200, "EGYPT😀", "KENYA",
                "PERU", "ARGENTINA", "BRAZIL"][i]
        nation.append((i - 3, name, rk))      # keys -3..10, non-null unique

    nation_keys = [n[0] for n in nation]

    # --- customer / supplier: shared nationkeys so the ASIA
    # c_nationkey = s_nationkey chains exist; hostile balances -------
    segs = shuffled(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY", None, "", "MACHINERY ", "机械"])
    customer = []
    for i in range(60):
        ck = (9_000_000_000_000_000_000 if i == 0
              else -7 if i == 1 else i)
        nk = (None if i % 17 == 0
              else 555 if i % 13 == 0          # dangling
              else nation_keys[i % len(nation_keys)])
        bal = [None, 0.0, 0.125, -0.125, 2.675, -2.675, 1e12, -1e12,
               1e-300, 327.535][i % 10]
        if i >= 40:
            bal = round(rng.uniform(-6000, 6000), 2)
        customer.append((ck, key_strings[i % len(key_strings)], nk,
                         bal, segs[i % len(segs)]))
    supplier = []
    for i in range(24):
        sk = -11 if i == 0 else i
        nk = (None if i == 23
              else 777 if i == 22                # dangling
              else nation_keys[i % len(nation_keys)])
        supplier.append((sk, key_strings[(i + 3) % len(key_strings)],
                         nk, rng.choice([None, 0.0, -1.5e7,
                                         round(rng.uniform(-1e4, 1e4), 2)])))
    cust_keys = [c[0] for c in customer]
    supp_keys = [s[0] for s in supplier]

    # --- orders: boundary dates, hostile prices/priorities -----------
    orders = []
    prices = shuffled([-55.5, 0.0, 1e-9, 0.125, 2.675, -2.675, 327.535,
                       2e10, -2e10, 123456789.0 / 100.0])
    bdates = [_us(1678, 1, 1), _us(2261, 12, 31, 23, 59, 59, 999999),
              _us(1996, 2, 29, 12, 30, 15, 123456),
              _us(1996, 1, 1), _us(1995, 12, 31, 23, 59, 59, 999999),
              _us(1997, 1, 1), _us(1996, 12, 31, 23, 59, 59, 999999),
              _us(1995, 1, 1), _us(1994, 12, 31, 23, 59, 59, 999999)]
    statuses = shuffled(["O", "F", "P", None, "", "Ø"])
    n_orders = 300
    for i in range(n_orders):
        ok = i if i > 2 else (-13, 8_000_000_000_000_000_000, -2)[i]
        ck = (999_999 if i % 19 == 0             # dangling customer
              else cust_keys[i % len(cust_keys)])
        price = (prices[i % len(prices)] if i < 80
                 else round(rng.uniform(1.0, 450_000.0), 2))
        date = (bdates[i % len(bdates)] if i < 36
                else _us(1994 + (i % 5), 1 + (i % 12), 1 + (i % 28),
                         i % 24, i % 60, i % 60, i * 101 % 1_000_000))
        orders.append((ok, ck, statuses[i % len(statuses)], price,
                       date, priorities[i % len(priorities)]))
    order_keys = [o[0] for o in orders]

    # --- lineitem: co-purchase graph structure + hostile measures ----
    lineitem = []
    part_pool = ([-17, 9_000_000_000_000_00] +      # negative + huge
                 list(range(100, 180)))

    def add_li(ok, pk, qty, price, disc, tax, rf, ls, ship):
        lineitem.append((ok, pk, supp_keys[len(lineitem) % len(supp_keys)]
                         if len(lineitem) % 23 else 31337,   # dangling supp
                         len(lineitem) % 7, qty, price, disc, tax,
                         rf, ls, ship))

    flags = shuffled(["A", "N", "R", None, "", "返"])
    stats = shuffled(["O", "F", "�", None])
    ship_pool = [_us(1998, 9, 2),                    # <= boundary, kept
                 _us(1998, 9, 2, 0, 0, 0, 1),        # +1µs, dropped
                 _us(1678, 1, 2), _us(2261, 6, 1),
                 _us(1996, 2, 29, 6, 0, 0, 500000)]
    qtys = shuffled([None, -4.0, 0.0, 0.125, 2.675, 49.5, 2e10, -2e10,
                     1.0, 17.25])
    discs = shuffled([0.0, 0.05, 0.1, -0.1, 1.5, None, 0.04999999999])
    for i, ok in enumerate(order_keys):
        if i == 0:                     # hub order: 25 distinct parts
            for j in range(25):
                add_li(ok, part_pool[j], 1.0 + j, 100.0 + j, 0.05, 0.02,
                       "N", "O", ship_pool[j % len(ship_pool)])
            continue
        if i == 1:                     # same part repeated + NULL part
            for pk in (150, 150, 150, None, None, 151):
                add_li(ok, pk, 5.0, 50.0, 0.0, 0.0, "A", "F", ship_pool[2])
            continue
        if i in (2, 3):                # identical part sets → dup edges
            for pk in (160, 161, 162):
                add_li(ok, pk, 7.0, 70.0, 0.1, 0.05, "R", "O", ship_pool[0])
            continue
        n_items = 1 + (i * 7 + 3) % 6
        for j in range(n_items):
            pk = part_pool[(i * (j + 2) + j) % len(part_pool)]
            add_li(ok, pk,
                   qtys[(i + j) % len(qtys)],
                   [None, -90.0, 0.005, 1.9e10, round(rng.uniform(1, 9e4), 2)
                    ][(i * 3 + j) % 5],
                   discs[(i + 2 * j) % len(discs)],
                   discs[(i + j + 1) % len(discs)],
                   flags[(i + j) % len(flags)], stats[(i + j) % len(stats)],
                   ship_pool[(i + j) % len(ship_pool)]
                   if (i + j) % 3 else _us(1992 + i % 7, 1 + i % 12,
                                           1 + (i + j) % 28, j % 24))
    # dangling l_orderkey (order row absent) still contributes edges
    for pk in (170, 171, 172):
        add_li(777_777, pk, 3.0, 30.0, 0.0, 0.0, "N", "O", ship_pool[3])
    # constant-quantity flag group exercises the corr zero-variance
    # guard through the live oracle (flag 'Z' never collides: the
    # flags pool has no 'Z')
    for k in range(3):
        add_li(888_000 + k, 140 + k, 5.0, 10.0 + k, 0.0, 0.0,
               "Z", "O", ship_pool[0])

    # Planted share-saturation year (1993, otherwise unused): ASIA
    # revenue 1.6e13 cents over a total of exactly +1 cent (the
    # non-ASIA side cancels it), so |asia_share| > 9e12 — exercising
    # the floor-saturation branch (Spark floor(double) saturates at
    # int64 max, DuckDB does not) through the live oracle.
    customer.append((700_001, "asia-sat", -3, 0.0, "BUILDING"))   # ASIA
    customer.append((700_002, "eur-sat", 5, 0.0, "BUILDING"))     # EUROPE
    sat_date = _us(1993, 6, 1)
    for k in range(8):
        orders.append((900_000 + k, 700_001, "O", 1.0, sat_date, "1-URGENT"))
        orders.append((900_100 + k, 700_002, "O", 1.0, sat_date, "1-URGENT"))
        lineitem.append((900_000 + k, 100, 1, 0, 1.0, 2e10, 0.0, 0.0,
                         "N", "O", sat_date))
        lineitem.append((900_100 + k, 100, 1, 0, 1.0, -2e10, 0.0, 0.0,
                         "N", "O", sat_date))
    orders.append((900_200, 700_002, "O", 1.0, sat_date, "1-URGENT"))
    lineitem.append((900_200, 100, 1, 0, 1.0, 0.01, 0.0, 0.0,
                     "N", "O", sat_date))

    # --- part: ordered + never-ordered keys, hostile names ----------
    part = []
    for i in range(40):
        pk = (part_pool[i % len(part_pool)] if i < 25
              else 50_000 + i)                    # never ordered
        if any(p[0] == pk for p in part):
            pk = 60_000 + i
        part.append((pk, key_strings[(i + 5) % len(key_strings)],
                     f"Brand#{i % 5}", None if i % 9 == 0 else "TYPE",
                     (-2147483648, 2147483647, None, i)[i % 4],
                     rng.choice([None, 0.0, round(rng.uniform(1, 2000), 2)])))
    return region, nation, customer, supplier, part, orders, lineitem


_GAP_US = 30 * 60 * 1_000_000          # events.SESSION_GAP_MIN
_US = 1_000_000
_DAY = 86_400 * _US
_T0 = 1_704_067_200 * _US              # 2024-01-01 00:00:00 UTC
_TYPES = ("view", "click", "purchase", "signup", "error")
_DIRTY_PROPS = ['{"k": 7}', '{"k": "7"}', '{"k": 7.9}', '{"k": true}',
                'not json', '{"k": 7', None, '{}', '{"k": null}',
                '{"k": -12}', '{"k": [1,2]}']


def build_events(rng: random.Random):
    """(event_id, ts_us, user_id, event_type, value, props) with
    planted session-boundary, tie, extreme-date, and money-rounding
    structure. All in-contract (see module docstring): unique ids,
    non-null µs-aligned ts, finite values."""
    rows = []

    def add(us, user, etype="view", value=1.0, props=None):
        i = len(rows)
        rows.append((i, us,  user, etype,
                     value, props if props is not None
                     else f'{{"k": {i % 97}}}'))

    # u1: gap EXACTLY at / around the 30-min session boundary
    t = _T0
    for gap in (0, 1, _GAP_US - 1, _GAP_US, _GAP_US + 1, _GAP_US,
                2 * _GAP_US, 1, _GAP_US + 1):
        t += gap
        add(t, 1, rng.choice(_TYPES))
    # u2: five events on ONE microsecond (order falls to event_id)
    for _ in range(5):
        add(_T0 + 3 * _DAY, 2, rng.choice(_TYPES), round(rng.uniform(0, 9), 2))
    # u3: extreme µs-aligned dates — epoch+1µs, 1970-01-02, 2033,
    # 2024, and two hours shy of the nanos-int64 cap
    # (2262-04-11T23:47:16). Pre-/at-epoch ts are OUT of contract:
    # Spark initializes event-time watermarks AT epoch, so any
    # watermarked streaming operator drops ts <= 0 as late-from-birth
    # (demonstrated live: a 1960 and an epoch-0 event were the exact
    # two rows streaming_event_dedup lost). The 2-hour headroom below
    # the cap is for DERIVED times — session/window ends (ts + 30 min,
    # hourly buckets) must stay ns-representable for the pandas-side
    # oracle compare (engine timestamps are µs and unaffected).
    for us in (1, _DAY, 2_000_000_000 * _US, _T0 + 5 * _DAY,
               (9_223_372_036 - 7_200) * _US):
        add(us, 3, rng.choice(_TYPES))
    # u4: a single lonely event
    add(_T0 + 7 * _DAY, 4, "signup", 0.0)
    # u5: money-rounding traps — exact .5 cents (0.125*100), the
    # inexact x.xx5 family, negatives, zero, tiny
    for v in (0.125, 2.675, 0.005, -0.005, -2.675, 0.0, 1e-7, -1e-7,
              0.115, 327.535):
        t += rng.randrange(1, _GAP_US)
        add(t, 5, "purchase", v)
    # u6: NULL / '' / unknown event types (value stays NON-NULL: the
    # stateful sessionizer's exact-cents contract, loudly guarded)
    base6 = _T0 + 9 * _DAY
    add(base6, 6, None, 1.0)
    add(base6 + 1, 6, "", 2.0)
    add(base6 + 2, 6, "weird", 3.0)
    # u7: huge magnitudes — 3e10 = 3e12 cents, far past the old
    # ~3e9-cent cap (the moments oracle's per-row BIGINT multiply,
    # HUGEINT-ified late r14); still exact in double and inside the
    # engine's decimal(38) moment domain.
    for v in (3e10, -3e10, 1.9e7):
        add(base6 + _GAP_US + rng.randrange(1, _GAP_US), 7, "click", v)
    # negative user id
    add(_T0 + 11 * _DAY, -5, "view", 1.23)
    # u8: dense random day with view→purchase attribution pairs
    for _ in range(200):
        add(_T0 + 13 * _DAY + rng.randrange(0, _DAY), 8,
            rng.choice(_TYPES), round(rng.uniform(-50, 350), 2),
            rng.choice(_DIRTY_PROPS) if rng.random() < 0.3 else None)
    # several mid-size users for the group-by surface
    for u in range(9, 15):
        for _ in range(30):
            add(_T0 + rng.randrange(0, 20 * _DAY), u,
                rng.choice(_TYPES), round(rng.uniform(0, 300), 2))
    rng.shuffle(rows)                  # hostile arrival order on disk
    return [(eid, us, u, et, v, p)
            for eid, (_, us, u, et, v, p) in enumerate(rows)]


def write_advdata(out_dir: str, base_dir: str, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_experiment_spark.sources.tables import TABLE_NAMES

    os.makedirs(out_dir, exist_ok=True)
    hostile = ("documents", "embeddings", "events", "region", "nation",
               "customer", "supplier", "part", "orders", "lineitem")
    for name in TABLE_NAMES:
        src = os.path.join(base_dir, f"{name}.parquet")
        if name in hostile or not os.path.exists(src):
            continue
        shutil.copyfile(src, os.path.join(out_dir, f"{name}.parquet"))

    rng = random.Random(seed)
    region, nation, customer, supplier, part, orders, lineitem = \
        build_tpch(rng)

    def w(name, cols, schema):
        # Loud arity guard (ADVICE r14): a row tuple with the wrong
        # arity would otherwise silently truncate EVERY row to the
        # shortest and drop trailing schema columns — a malformed-
        # but-readable parquet instead of a generator error. The
        # explicit check names the table and row; a zero-row table
        # still writes every schema column (zip(*[]) would silently
        # produce an EMPTY-schema table).
        for row in cols:
            if len(row) != len(schema):
                raise ValueError(
                    f"{name}: row arity {len(row)} != schema "
                    f"{len(schema)}: {row!r}")
        columns = list(zip(*cols)) if cols else [[] for _ in schema]
        arrays = {c: pa.array(vals, t)
                  for (c, t), vals in zip(schema, columns)}
        pq.write_table(pa.table(arrays),
                       os.path.join(out_dir, f"{name}.parquet"))

    US = pa.timestamp("us")
    w("region", region,
      [("r_regionkey", pa.int32()), ("r_name", pa.string())])
    w("nation", nation,
      [("n_nationkey", pa.int32()), ("n_name", pa.string()),
       ("n_regionkey", pa.int32())])
    w("customer", customer,
      [("c_custkey", pa.int64()), ("c_name", pa.string()),
       ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
       ("c_mktsegment", pa.string())])
    w("supplier", supplier,
      [("s_suppkey", pa.int64()), ("s_name", pa.string()),
       ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())])
    w("part", part,
      [("p_partkey", pa.int64()), ("p_name", pa.string()),
       ("p_brand", pa.string()), ("p_type", pa.string()),
       ("p_size", pa.int32()), ("p_retailprice", pa.float64())])
    w("orders", orders,
      [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
       ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
       ("o_orderdate", US), ("o_orderpriority", pa.string())])
    w("lineitem", lineitem,
      [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
       ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
       ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
       ("l_discount", pa.float64()), ("l_tax", pa.float64()),
       ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
       ("l_shipdate", US)])
    docs = build_documents(rng)
    d_ids, d_text, d_lang, d_src, d_n = (list(c) for c in zip(*docs))
    pq.write_table(pa.table(
        {"doc_id": pa.array(d_ids, pa.int64()),
         "text": pa.array(d_text, pa.string()),
         "lang": pa.array(d_lang, pa.string()),
         "source": pa.array(d_src, pa.string()),
         "n_chars": pa.array(d_n, pa.int64())}),
        os.path.join(out_dir, "documents.parquet"))

    embs = build_embeddings(rng)
    e_ids, e_vec, e_lab = (list(c) for c in zip(*embs))
    pq.write_table(pa.table(
        {"vec_id": pa.array(e_ids, pa.int64()),
         "embedding": pa.array(e_vec, pa.list_(pa.float32())),
         "label": pa.array(e_lab, pa.int32())}),
        os.path.join(out_dir, "embeddings.parquet"))

    evs = build_events(rng)
    v_id, v_us, v_uid, v_et, v_val, v_pr = (list(c) for c in zip(*evs))
    pq.write_table(pa.table(
        {"event_id": pa.array(v_id, pa.int64()),
         "ts": pa.array(v_us, pa.timestamp("us")),
         "user_id": pa.array(v_uid, pa.int64()),
         "event_type": pa.array(v_et, pa.string()),
         "value": pa.array(v_val, pa.float64()),
         "props": pa.array(v_pr, pa.string())}),
        os.path.join(out_dir, "events.parquet"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--base", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="/tmp/spark_graft_advdata")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--only", default=None,
                    help="comma-separated query names (default: all)")
    args = ap.parse_args()

    write_advdata(args.out, args.base, args.seed)
    print(f"adversarial tables written to {args.out} (seed {args.seed})")

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .config("spark.ui.enabled", "false").getOrCreate())

    import __spark_entry__ as entry
    from tests.oracle_util import assert_matches, run_oracle

    q, o = entry.queries(), entry.oracle_sql()
    names = [n for n in args.only.split(",") if n] if args.only else list(q)
    t00 = time.time()
    failures: list[tuple[str, str]] = []
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            df = q[name](spark, args.out)
            assert_matches(df, run_oracle(o[name], args.out), name)
            verdict = "OK"
        except Exception as ex:  # noqa: BLE001 — report and continue
            verdict = f"FAIL {str(ex)[:300]}"
            failures.append((name, verdict))
        print(f"[{i + 1}/{len(names)}] {name}: {verdict} "
              f"({time.time() - t0:.1f}s)", flush=True)
    print(f"RESULT adversarial seed={args.seed}: "
          f"{len(names) - len(failures)}/{len(names)} OK, "
          f"wall {time.time() - t00:.0f}s")
    for name, msg in failures:
        print("FAIL", name, msg)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
