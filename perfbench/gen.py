"""Seeded input generators for the graft benchmark.

Everything the JVM side consumes is generated here from integers: the
TPC-H-shaped tables the knowledge graph is ingested from, the kg_lookup
request stream and the curation corpus.
Expected answers are computed here too, straight from the raw table keys
with a small re-implementation of the one-hop matching rules, so the
check never goes through graft's own operators.

The same (kind, seed, scale) always produces byte-identical files.
"""

import bisect
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ontology
# Mirror of graft.model.GraftOntology, enough to evaluate one-hop answers.
G = "graft:"
PARENTS = {
    "Place": ["Entity"], "Region": ["Place"], "Nation": ["Place"],
    "Actor": ["Entity"], "Customer": ["Actor"], "Supplier": ["Actor"],
    "Item": ["Entity"], "Part": ["Item", "Tradeable"], "Order": ["Entity"],
    "Tradeable": ["Entity"],
    "affiliated_with": ["related_to"], "connected_to": ["related_to"],
    "located_in": ["affiliated_with", "connected_to"],
    "part_of": ["affiliated_with"], "transacts": ["related_to"],
    "placed": ["transacts"], "contains_item": ["transacts"],
    "supplied_by": ["transacts"], "ships": ["transacts"],
    "adjacent_to": ["related_to"], "subclass_of": ["related_to"],
    "returned": ["flagged"], "accepted": ["flagged"],
    "open": ["status"], "finished": ["status"],
}
PARENTS = {G + k: [G + p for p in v] for k, v in PARENTS.items()}
MIXINS = {G + "Tradeable", G + "connected_to"}
MIXIN_DIRECT = {G + "Tradeable": {G + "Part"}, G + "connected_to": {G + "located_in"}}
SYMMETRIC = {G + "related_to", G + "adjacent_to"}
CANONICAL_OF = {G + a: G + b for a, b in [
    ("location_of", "located_in"), ("has_part", "part_of"),
    ("placed_by", "placed"), ("contained_in", "contains_item"),
    ("supplies", "supplied_by"), ("superclass_of", "subclass_of")]}
ROOT_PRED = G + "related_to"
ROOT_CAT = G + "Entity"

CHILDREN = {}
for _c, _ps in PARENTS.items():
    for _p in _ps:
        CHILDREN.setdefault(_p, set()).add(_c)


def _close(term, step):
    seen, todo = {term}, [term]
    while todo:
        for n in step(todo.pop()):
            if n not in seen:
                seen.add(n)
                todo.append(n)
    return seen


def descendants(term, include_mixins=True):
    out = _close(term, lambda t: CHILDREN.get(t, []))
    return out if include_mixins else {t for t in out if t == term or t not in MIXINS}


def ancestors(term):
    return _close(term, lambda t: PARENTS.get(t, []))


def consider_bidirectional(p, direct):
    if p in direct:
        return p in SYMMETRIC
    if direct and all(d in SYMMETRIC for d in direct):
        return True
    if any(a in SYMMETRIC for a in (ancestors(p) - {p}) & direct):
        return True
    return p in SYMMETRIC


def expand_categories(cats):
    raw = set(cats) or {ROOT_CAT}
    proper = set()
    for t in raw:
        proper |= MIXIN_DIRECT[t] if t in MIXINS and t in MIXIN_DIRECT else {t}
    out = set()
    for t in proper:
        out |= descendants(t, include_mixins=False)
    return out


# ------------------------------------------------------------- TPC-H shape
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
           ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
           ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
           ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
           ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
           ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
           ("UNITED KINGDOM", 3), ("UNITED STATES", 1)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86400 * 1000000
EPOCH_1992_US = 694224000 * 1000000


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def tpch_tables(seed, scale):
    """Column dicts for the seven TPC-H tables graft's TpchGraph reads."""
    r = random.Random(seed)
    n_cust = max(50, int(150000 * scale))
    n_supp = max(10, int(10000 * scale))
    n_part = max(50, int(200000 * scale))
    n_ord = max(100, int(1500000 * scale))
    t = {}
    t["region"] = {"r_regionkey": list(range(5)), "r_name": REGIONS}
    t["nation"] = {"n_nationkey": list(range(25)),
                   "n_name": [n for n, _ in NATIONS],
                   "n_regionkey": [rk for _, rk in NATIONS]}
    ck = list(range(1, n_cust + 1))
    t["customer"] = {
        "c_custkey": ck, "c_name": ["Customer#%09d" % k for k in ck],
        "c_nationkey": [r.randrange(25) for _ in ck],
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in ck],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in ck]}
    sk = list(range(1, n_supp + 1))
    t["supplier"] = {
        "s_suppkey": sk, "s_name": ["Supplier#%09d" % k for k in sk],
        "s_nationkey": [r.randrange(25) for _ in sk],
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in sk]}
    pk = list(range(1, n_part + 1))
    t["part"] = {
        "p_partkey": pk, "p_name": ["part %d %s" % (k, r.choice(SEGMENTS).lower()) for k in pk],
        "p_brand": ["Brand#%d%d" % (r.randint(1, 5), r.randint(1, 5)) for _ in pk],
        "p_type": [r.choice(["STANDARD", "SMALL", "LARGE", "PROMO"]) for _ in pk],
        "p_size": [r.randint(1, 50) for _ in pk],
        "p_retailprice": [round(900 + k % 1000 + 0.01 * (k % 100), 2) for k in pk]}
    o = {k: [] for k in ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                         "o_orderdate", "o_orderpriority"]}
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate"]}
    for ok in range(1, n_ord + 1):
        day = r.randrange(2400)
        o["o_orderkey"].append(ok)
        o["o_custkey"].append(r.randint(1, n_cust))
        o["o_orderdate"].append(EPOCH_1992_US + day * DAY_US)
        o["o_orderpriority"].append(r.choice(PRIORITIES))
        total = 0.0
        statuses = set()
        for ln in range(1, r.randint(1, 7) + 1):
            q = float(r.randint(1, 50))
            price = round(q * r.uniform(900, 2000), 2)
            ship = day + r.randint(1, 120)
            status = "O" if ship > 2200 else "F"
            statuses.add(status)
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(r.randint(1, n_part))
            li["l_suppkey"].append(r.randint(1, n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(price)
            li["l_discount"].append(round(r.randint(0, 10) / 100, 2))
            li["l_tax"].append(round(r.randint(0, 8) / 100, 2))
            li["l_returnflag"].append(
                "N" if status == "O" else r.choice(["R", "A"]))
            li["l_linestatus"].append(status)
            li["l_shipdate"].append(EPOCH_1992_US + ship * DAY_US)
            total += price
        o["o_totalprice"].append(round(total, 2))
        o["o_orderstatus"].append("P" if len(statuses) > 1 else statuses.pop())
    t["orders"] = o
    t["lineitem"] = li
    return t


_TYPES = {
    "r_regionkey": pa.int32(), "n_nationkey": pa.int32(), "n_regionkey": pa.int32(),
    "c_nationkey": pa.int32(), "s_nationkey": pa.int32(), "p_size": pa.int32(),
    "l_linenumber": pa.int32(), "o_orderdate": pa.timestamp("us"),
    "l_shipdate": pa.timestamp("us"),
}


def write_tpch(dirpath, seed, scale):
    """Write the TPC-H subset as parquet (one file per table). Writes to a
    temporary sibling and renames, so a half-written dir is never used."""
    if os.path.isdir(dirpath):
        return
    tmp = dirpath + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, cols in tpch_tables(seed, scale).items():
        fields = []
        for c, v in cols.items():
            ty = _TYPES.get(c)
            if ty is None:
                ty = pa.string() if isinstance(v[0], str) else (
                    pa.float64() if isinstance(v[0], float) else pa.int64())
            fields.append(pa.array(v, type=ty))
        _write(pa.Table.from_arrays(fields, names=list(cols)), os.path.join(tmp, name + ".parquet"))
    os.rename(tmp, dirpath)


# ----------------------------------------------------------- graph oracle
class Graph:
    """The canonical knowledge graph TpchGraph derives from the tables,
    rebuilt from raw keys: edges as tuples plus the subclass closure."""

    def __init__(self, t):
        nat_region = dict(zip(t["nation"]["n_nationkey"], t["nation"]["n_regionkey"]))
        self.cust_nation = dict(zip(t["customer"]["c_custkey"], t["customer"]["c_nationkey"]))
        self.supp_nation = dict(zip(t["supplier"]["s_suppkey"], t["supplier"]["s_nationkey"]))
        self.cust_attrs = {k: (b, s) for k, b, s in zip(
            t["customer"]["c_custkey"], t["customer"]["c_acctbal"], t["customer"]["c_mktsegment"])}
        self.nat_region = nat_region
        cats = {}
        for k in range(5):
            cats["REG:%d" % k] = G + "Region"
        for k in range(25):
            cats["NAT:%d" % k] = G + "Nation"
        for k in t["customer"]["c_custkey"]:
            cats["CUST:%d" % k] = G + "Customer"
        for k in t["supplier"]["s_suppkey"]:
            cats["SUPP:%d" % k] = G + "Supplier"
        for k in t["part"]["p_partkey"]:
            cats["PART:%d" % k] = G + "Part"
        for k in t["orders"]["o_orderkey"]:
            cats["ORD:%d" % k] = G + "Order"
        self.cats = cats
        # edge: (edge_id, subject, object, predicate, qp, direction, aspect, src)
        e = []
        for n, rk in nat_region.items():
            e.append(("E-NR:%d" % n, "NAT:%d" % n, "REG:%d" % rk, G + "part_of", None, None, None, "infores:geo"))
            e.append(("E-SUBNR:%d" % n, "NAT:%d" % n, "REG:%d" % rk, G + "subclass_of", None, None, None, "infores:tax"))
        for c, n in self.cust_nation.items():
            e.append(("E-CN:%d" % c, "CUST:%d" % c, "NAT:%d" % n, G + "located_in", None, None, None, "infores:crm"))
            e.append(("E-SUBCN:%d" % c, "CUST:%d" % c, "NAT:%d" % n, G + "subclass_of", None, None, None, "infores:tax"))
        for s, n in self.supp_nation.items():
            e.append(("E-SN:%d" % s, "SUPP:%d" % s, "NAT:%d" % n, G + "located_in", None, None, None, "infores:crm"))
        for ok, ck in zip(t["orders"]["o_orderkey"], t["orders"]["o_custkey"]):
            e.append(("E-OC:%d" % ok, "CUST:%d" % ck, "ORD:%d" % ok, G + "placed", None, None, None, "infores:sales"))
        li = t["lineitem"]
        pairs = set()
        for ok, pk, sk, ln, rf, ls in zip(li["l_orderkey"], li["l_partkey"], li["l_suppkey"],
                                          li["l_linenumber"], li["l_returnflag"], li["l_linestatus"]):
            d = {"R": G + "returned", "A": G + "accepted"}.get(rf)
            a = {"O": G + "open", "F": G + "finished"}.get(ls)
            e.append(("E-LI:%d:%d" % (ok, ln), "ORD:%d" % ok, "PART:%d" % pk, G + "contains_item",
                      G + "ships", d, a, "infores:logistics"))
            pairs.add((pk, sk))
        for pk, sk in sorted(pairs):
            e.append(("E-PS:%d:%d" % (pk, sk), "PART:%d" % pk, "SUPP:%d" % sk, G + "supplied_by",
                      None, None, None, "infores:logistics"))
        by_region = {}
        for n in sorted(nat_region):
            by_region.setdefault(nat_region[n], []).append(n)
        for ns in by_region.values():
            for a, b in zip(ns, ns[1:]):
                e.append(("E-ADJ:%d:%d" % (a, b), "NAT:%d" % a, "NAT:%d" % b, G + "adjacent_to",
                          None, None, None, "infores:geo"))
        self.edges = e
        self.by_subject, self.by_object = {}, {}
        for x in e:
            self.by_subject.setdefault(x[1], []).append(x)
            self.by_object.setdefault(x[2], []).append(x)
        # subclass closure (ancestor -> descendants), hub cutoff 5000 as graft
        desc = {}
        for c, n in self.cust_nation.items():
            desc.setdefault("NAT:%d" % n, set()).add("CUST:%d" % c)
        for n, rk in nat_region.items():
            s = desc.setdefault("REG:%d" % rk, set())
            s.add("NAT:%d" % n)
            s |= desc.get("NAT:%d" % n, set())
        self.closure = {a: ds for a, ds in desc.items() if len(ds) <= 5000}

    def expand(self, ids, on=True):
        out = set(ids)
        if on:
            for i in ids:
                out |= self.closure.get(i, set())
        return out


def onehop(g, nodes, edge, expand=True, attr=None):
    """Expected answer of a one-hop query, as [(edge_id, input_id, output_id)].

    nodes: [(key, ids, categories)] in qnode order; edge: (subj_key,
    obj_key, predicates, qualifier) with qualifier (qp, direction) or None.
    attr: callable(edge) -> bool for attribute constraints."""
    skey, okey, preds, qual = edge
    if preds and all(p in CANONICAL_OF for p in preds):
        skey, okey = okey, skey
        preds = sorted({CANONICAL_OF[p] for p in preds})
    byk = {k: (ids, cats) for k, ids, cats in nodes}
    best = None
    for k, ids, _ in nodes:
        if len(ids) > (len(byk[best][0]) if best else 0):
            best = k
    in_key = best
    out_key = okey if in_key == skey else skey
    in_is_subject = in_key == skey
    in_ids = g.expand(byk[in_key][0], expand)
    out_ids, out_cats = byk[out_key]
    out_set = g.expand(out_ids, expand) if out_ids else None
    cat_set = expand_categories(out_cats) if (not out_ids and out_cats) else None
    if qual is None:
        raw = set(preds) or {ROOT_PRED}
        direct = raw | {m for t in raw for m in (MIXIN_DIRECT[t] if t in MIXIN_DIRECT else {t})}
        expanded = set()
        for p in direct:
            expanded |= descendants(p)

        def match(e):
            return e[3] in expanded

        def bidir(e):
            return consider_bidirectional(e[3], direct)
    else:
        qp, qdir = qual
        pset, dset = descendants(qp), descendants(qdir)

        def match(e):
            return (e[4] is not None or e[5] is not None or e[6] is not None) and \
                (e[4] in pset or e[3] in pset) and e[5] in dset

        def bidir(e):
            used = e[4] or e[3]
            return used in SYMMETRIC

    out = []
    for i in sorted(in_ids):
        for e, fwd in [(x, True) for x in g.by_subject.get(i, [])] + \
                      [(x, False) for x in g.by_object.get(i, [])]:
            if not match(e) or not (bidir(e) or fwd == in_is_subject):
                continue
            o = e[2] if fwd else e[1]
            if out_set is not None and o not in out_set:
                continue
            if cat_set is not None and g.cats.get(o) not in cat_set:
                continue
            if attr is not None and not attr(e):
                continue
            out.append((e[0], i, o))
    return out


def digest(items):
    """Order-free digest of a set of strings: md5 of the sorted, distinct
    items joined by newlines. The JVM side computes the same."""
    s = sorted(set(items))
    return len(s), hashlib.md5("\n".join(s).encode("utf-8")).hexdigest()


# ---------------------------------------------------------- kg_lookup stream
# One Zipf exponent for every id pool (customers, parts, nations, regions):
# s = 1, the classic Zipf law.
ZIPF_S = 1.0
# The popularity ranking of each pool is fixed, so every seed asks for the
# same hot ids and only the drawn sequence changes with the seed. With s = 1
# the top-ranked customer alone takes 13% of customer draws; a seeded
# ranking made one seed's stream ~10% slower than another's.
POPULARITY_SEED = 1


class Zipf:
    """Zipf(ZIPF_S) over ranks 1..n mapped through a fixed permutation of
    keys, drawn with `r`."""

    def __init__(self, r, keys):
        self.keys = list(keys)
        random.Random(POPULARITY_SEED).shuffle(self.keys)
        w = [1.0 / (i ** ZIPF_S) for i in range(1, len(self.keys) + 1)]
        tot, acc = sum(w), 0.0
        self.cdf = []
        for x in w:
            acc += x / tot
            self.cdf.append(acc)
        self.r = r

    def draw(self):
        return self.keys[min(bisect.bisect_left(self.cdf, self.r.random()), len(self.keys) - 1)]

    def draws(self, k):
        out = []
        while len(out) < k:
            x = self.draw()
            if x not in out:
                out.append(x)
        return out


# The g03..g19 one-hop and batch families, one equal share each: no
# measured traffic mix is available, so none is weighted above another.
LOOKUP_SHAPES = [
    "fwd", "rev", "open", "pinned", "multi", "cat_hier", "pred_hier", "symmetric", "flip",
    "subclass", "qualified", "attr", "get_edges", "get_neighbors", "single_node",
]


def shape_sequence(r, n):
    """n request shapes, one equal share per family: each consecutive block
    of len(LOOKUP_SHAPES) requests holds every family once, in a seeded
    order, so every prefix of the stream (a short run reads only a prefix)
    holds each family in its share."""
    out = []
    while len(out) < n:
        block = list(LOOKUP_SHAPES)
        r.shuffle(block)
        out += block
    return out[:n]


def lookup_stream(g, seed, n):
    r = random.Random(seed)
    cust = Zipf(r, sorted(g.cust_nation))
    part = Zipf(r, sorted({int(c.split(":")[1]) for c, v in g.cats.items() if v == G + "Part"}))
    nat = Zipf(r, range(25))
    reg = Zipf(r, range(5))
    O = lambda x: G + x  # noqa: E731
    out = []
    for qi, shape in enumerate(shape_sequence(r, n)):
        q = {"i": qi, "shape": shape}
        if shape in ("get_edges", "get_neighbors", "single_node"):
            if shape == "get_edges":
                pairs = []
                for c in cust.draws(r.randint(1, 3)):
                    pairs.append(("CUST:%d" % c, "NAT:%d" % g.cust_nation[c]))
                for a in nat.draws(r.randint(1, 2)):
                    b = (a + 1) % 25
                    pairs.append(("NAT:%d" % a, "NAT:%d" % b))
                    pairs.append(("NAT:%d" % a, "REG:%d" % g.nat_region[a]))
                seen, uniq = set(), []
                for a, b in pairs:
                    k = tuple(sorted((a, b)))
                    if k not in seen:
                        seen.add(k)
                        uniq.append([a, b])
                want = []
                for a, b in uniq:
                    for e in g.by_subject.get(a, []) + g.by_subject.get(b, []):
                        if {e[1], e[2]} == {a, b}:
                            want.append("%s--%s|%s" % (a, b, e[0]))
                q["pairs"] = uniq
            elif shape == "get_neighbors":
                ids = ["NAT:%d" % k for k in nat.draws(r.randint(1, 3))]
                cats, preds = [O("Customer")], [O("related_to")]
                q.update(ids=ids, cats=cats, preds=preds)
                want = ["%s|%s" % (i, o) for _, i, o in onehop(
                    g, [("n_in", ids, []), ("n_out", [], cats)], ("n_in", "n_out", preds, None),
                    expand=False)]
            else:
                ids = ["REG:%d" % reg.draw(), "NAT:%d" % nat.draw()] + \
                      ["CUST:%d" % c for c in cust.draws(r.randint(1, 3))]
                q["ids"] = ids
                want = sorted(i for i in g.expand(ids) if i in g.cats)
            q["expect_n"], q["expect_md5"] = digest(want)
            out.append(q)
            continue
        attr = None
        qual = None
        if shape == "fwd":
            nodes = [("n0", ["CUST:%d" % c for c in cust.draws(r.randint(1, 6))], []),
                     ("n1", [], [O("Nation")])]
            edge = ("n0", "n1", [O("located_in")])
        elif shape == "rev":
            nodes = [("n_out", [], [O("Customer")]),
                     ("n_in", ["NAT:%d" % k for k in nat.draws(r.randint(1, 3))], [])]
            edge = ("n_out", "n_in", [O("located_in")])
        elif shape == "open":
            nodes = [("n0", ["NAT:%d" % nat.draw()], []), ("n1", [], [])]
            edge = ("n0", "n1", [])
        elif shape == "pinned":
            nodes = [("n0", ["NAT:%d" % k for k in nat.draws(r.randint(3, 12))], []),
                     ("n1", ["REG:%d" % k for k in reg.draws(2)], [])]
            edge = ("n0", "n1", [O("part_of")])
        elif shape == "multi":
            nodes = [("n_out", [], [O("Customer"), O("Nation")]),
                     ("n_in", ["NAT:%d" % k for k in nat.draws(r.randint(1, 3))], [])]
            edge = ("n_out", "n_in", [O("located_in"), O("adjacent_to")])
        elif shape == "cat_hier":
            nodes = [("n_out", [], [O("Actor")]), ("n_in", ["NAT:%d" % nat.draw()], [])]
            edge = ("n_out", "n_in", [O("affiliated_with")])
        elif shape == "pred_hier":
            nodes = [("n0", ["PART:%d" % p for p in part.draws(r.randint(1, 10))], []),
                     ("n1", [], [])]
            edge = ("n0", "n1", [O("transacts")])
        elif shape == "symmetric":
            nodes = [("n0", ["NAT:%d" % nat.draw()], []), ("n1", [], [])]
            edge = ("n0", "n1", [O("adjacent_to")])
        elif shape == "flip":
            nodes = [("nb", [], []), ("na", ["CUST:%d" % c for c in cust.draws(r.randint(1, 6))], [])]
            edge = ("nb", "na", [O("placed_by")])
        elif shape == "subclass":
            nodes = [("n_out", [], []), ("n_in", ["REG:%d" % reg.draw()], [])]
            edge = ("n_out", "n_in", [O("located_in")])
        elif shape == "qualified":
            nodes = [("nOrd", [], []),
                     ("nPart", ["PART:%d" % p for p in part.draws(r.randint(5, 40))], [])]
            edge = ("nOrd", "nPart", [])
            qual = (O("ships"), O("flagged"))
            q["qual"] = list(qual)
        else:  # attr
            floor = round(r.uniform(0, 8000)) + 0.5
            seg = r.choice(SEGMENTS)
            nodes = [("nOut", [], [O("Customer")]),
                     ("nIn", ["NAT:%d" % k for k in nat.draws(r.randint(1, 10))], [])]
            edge = ("nOut", "nIn", [O("located_in")])
            q["attrs"] = [["acctbal", ">", floor], ["mktsegment", "!=", seg],
                          ["knowledge_source", "==", "infores:crm"]]

            def attr(e, floor=floor, seg=seg):
                if not e[0].startswith("E-CN:"):
                    return False
                bal, s = g.cust_attrs[int(e[0].split(":")[1])]
                return bal > floor and s != seg and e[7] == "infores:crm"
        q["nodes"] = [{"key": k, "ids": ids, "cats": cats} for k, ids, cats in nodes]
        q["edge"] = {"subject": edge[0], "object": edge[1], "preds": edge[2]}
        ans = onehop(g, nodes, edge + (qual,), attr=attr)
        q["expect_n"], q["expect_md5"] = digest(e for e, _, _ in ans)
        out.append(q)
    return out


# ------------------------------------------------------ curation_batch corpus
STOP = ["the", "of", "and", "to", "that", "with", "be", "have"]


def _vocab(r, n=4000):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(r.choice(letters) for _ in range(r.randint(3, 9))))
    return sorted(words)


def _prose(r, vocab, n_lines, words_per_line=(10, 22)):
    lines = []
    for _ in range(n_lines):
        k = r.randint(*words_per_line)
        ws = [r.choice(STOP) if r.random() < 0.25 else r.choice(vocab) for _ in range(k)]
        ws[0] = ws[0].capitalize()
        lines.append(" ".join(ws) + ".")
    return lines


def corpus(seed, n_docs, near_dup_rate=0.04, dup_group_rate=0.04, bad_rate=0.15):
    """Synthetic documents with planted structure:
      - exact-duplicate groups (2-4 identical texts under distinct ids);
      - near-duplicate pairs (one word of a long document replaced), at
        `near_dup_rate` pairs per document;
      - filter-failing docs at `bad_rate`: lorem-ipsum placeholders,
        leaked code braces, too-short texts, and line soup without
        terminal punctuation;
      - PII (emails, phone numbers) sprinkled into good docs.
    The counts of groups, pairs and failing docs are exact shares of
    `n_docs`, so every seed's corpus asks the same work of a pass.
    Returns (rows, expectations)."""
    r = random.Random(seed)
    vocab = _vocab(r)
    texts, kinds = [], []
    groups, pairs = [], []
    plan = (["bad"] * round(bad_rate * n_docs) + ["dup"] * round(dup_group_rate * n_docs) +
            ["near"] * round(near_dup_rate * n_docs))
    while len(texts) < n_docs:
        kind = plan.pop() if plan else "good"
        if kind == "bad":
            flaw = r.choice(["lorem", "braces", "short", "nopunct"])
            if flaw == "short":
                t = "\n".join(_prose(r, vocab, 2, (5, 9)))
            elif flaw == "nopunct":
                t = "\n".join(l[:-1] for l in _prose(r, vocab, 6))
            else:
                ls = _prose(r, vocab, 6)
                ls[r.randrange(6)] = ("Lorem ipsum dolor sit amet, consectetur adipiscing elit."
                                      if flaw == "lorem" else "if (x) { return y; } else { z = 1; }.")
                t = "\n".join(ls)
            texts.append(t)
            kinds.append("bad")
        elif kind == "dup":
            t = "\n".join(_prose(r, vocab, r.randint(5, 8)))
            size = r.randint(2, 4)
            groups.append(list(range(len(texts), len(texts) + size)))
            texts += [t] * size
            kinds += ["dup"] * size
        elif kind == "near":
            ls = _prose(r, vocab, 16, (20, 26))
            a = "\n".join(ls)
            li = r.randrange(len(ls))
            ws = ls[li].split(" ")
            wi = r.randrange(1, len(ws) - 1)
            ws[wi] = "zq" + ws[wi]
            ls[li] = " ".join(ws)
            pairs.append((len(texts), len(texts) + 1))
            texts += [a, "\n".join(ls)]
            kinds += ["near", "near"]
        else:
            ls = _prose(r, vocab, r.randint(5, 8))
            if r.random() < 0.2:
                j = r.randrange(len(ls))
                ls[j] = ls[j][:-1] + " contact %s.%s@example.org or call 555-%03d-%04d." % (
                    r.choice(vocab), r.choice(vocab), r.randrange(1000), r.randrange(10000))
            texts.append("\n".join(ls))
            kinds.append("good")
    # ids: a seeded permutation, so group/pair members are not adjacent ids
    ids = list(range(1, len(texts) + 1))
    r.shuffle(ids)
    rows = {"doc_id": ids, "text": texts,
            "lang": ["en"] * len(texts), "source": ["synthetic"] * len(texts),
            "n_chars": [len(t) for t in texts]}
    exp = {
        "n_docs": len(texts),
        "dup_groups": [sorted(ids[i] for i in grp) for grp in groups],
        "near_pairs": [sorted((ids[a], ids[b])) for a, b in pairs],
        "bad_ids": sorted(ids[i] for i, k in enumerate(kinds) if k == "bad"),
    }
    return rows, exp


def write_corpus(dirpath, seed, n_docs):
    rows, exp = corpus(seed, n_docs)
    os.makedirs(dirpath, exist_ok=True)
    tbl = pa.Table.from_arrays(
        [pa.array(rows["doc_id"], pa.int64()), pa.array(rows["text"]), pa.array(rows["lang"]),
         pa.array(rows["source"]), pa.array(rows["n_chars"], pa.int64())],
        names=["doc_id", "text", "lang", "source", "n_chars"])
    _write(tbl, os.path.join(dirpath, "documents.parquet"))
    _dump(exp, os.path.join(dirpath, "expect.json"))


def _dump(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))


def _dump_lines(objs, path):
    with open(path, "w") as f:
        for o in objs:
            f.write(json.dumps(o, sort_keys=True, separators=(",", ":")) + "\n")


def tables_of(dirpath):
    """Read back a TPC-H dir into the column dicts Graph() expects."""
    t = {}
    for name in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        t[name] = pq.read_table(os.path.join(dirpath, name + ".parquet")).to_pydict()
    return t


def write_workload(workload, dirpath, seed, graph_dir, n_docs, n_queries=1000):
    """Generate the per-seed inputs of one workload into `dirpath`."""
    os.makedirs(dirpath, exist_ok=True)
    if workload == "curation_batch":
        write_corpus(dirpath, seed, n_docs)
        return
    g = Graph(tables_of(graph_dir))
    if workload == "kg_lookup":
        _dump_lines(lookup_stream(g, seed, n_queries), os.path.join(dirpath, "queries.jsonl"))
    else:
        raise ValueError("unknown workload " + workload)
