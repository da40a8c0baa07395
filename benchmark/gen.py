"""Seeded inputs for the graft benchmark.

Everything here is written from the public unified2 layout (u32 type,
u32 length, body; big-endian) and the public rule-map formats, never
through graft's own fixture code, so the expectations written next to
each spool come from this model alone.

    python3 benchmark/gen.py <workload> <seed> <out_dir>

writes the inputs of one workload for one seed into <out_dir>:

  star_etl      star/slice<k>/<sensor>/<dir>/snort.log.<n>, maps/,
                star/expect.json (one expectation per slice)
  spool_follow  follow/backlog/<sensor>/<dir>/snort.log.<n>, maps/,
                follow/appends.bin + follow/appends.json (the append
                schedule the in-process generator replays),
                follow/expect.json
  entry_mix     sf/<table>.parquet, the TPC-H-like tables the operator
                entries read
"""
import ipaddress
import json
import os
import random
import struct
import sys
import time
import zlib

EVENT_V2, EVENT_IP6_V2, PACKET, EXTRA_DATA = 104, 105, 2, 110

# ---- rule maps --------------------------------------------------------

MAPPED_SIDS = list(range(2000001, 2000301))     # in sid-msg.map (gid 1)
UNMAPPED_SIDS = list(range(2900001, 2900041))   # gid 1, in no map
GEN_MAPPED = [(119, a) for a in range(1, 21)] + [(120, a) for a in range(1, 9)]
GEN_UNMAPPED = [(122, a) for a in range(1, 6)]  # gid != 1, in no map
CLASSES = [
    ("not-suspicious", "Not Suspicious Traffic", 3),
    ("unknown", "Unknown Traffic", 3),
    ("bad-unknown", "Potentially Bad Traffic", 2),
    ("attempted-recon", "Attempted Information Leak", 2),
    ("successful-recon-limited", "Information Leak", 2),
    ("attempted-dos", "Attempted Denial of Service", 2),
    ("attempted-user", "Attempted User Privilege Gain", 1),
    ("web-application-attack", "Web Application Attack", 1),
    ("trojan-activity", "A Network Trojan was Detected", 1),
    ("policy-violation", "Potential Corporate Privacy Violation", 1),
]
UNKNOWN_CLASS_IDS = [40, 41]
WORDS = ["WEB-MISC", "DNS", "POLICY", "SCAN", "MALWARE", "EXPLOIT", "SQL",
         "SHELLCODE", "ICMP", "NETBIOS"]


def sig_msg(sid):
    return "GRAFT %s rule %d" % (WORDS[sid % len(WORDS)], sid)


def gen_msg(gid, aid):
    return "(decoder_%d) condition %d" % (gid, aid)


def write_maps(d):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "sid-msg.map"), "w") as f:
        f.write("# sid-msg.map\n")
        for s in MAPPED_SIDS:
            f.write("%d || %s || url,example.com/%d\n" % (s, sig_msg(s), s))
    with open(os.path.join(d, "gen-msg.map"), "w") as f:
        f.write("# gen-msg.map\n1 || 1 || snort general alert\n")
        for g, a in GEN_MAPPED:
            f.write("%d || %d || %s\n" % (g, a, gen_msg(g, a)))
    with open(os.path.join(d, "classification.config"), "w") as f:
        f.write("# classification.config\n")
        for n, desc, p in CLASSES:
            f.write("config classification: %s,%s,%d\n" % (n, desc, p))


def expected_msg(gid, sid):
    if gid == 1 and sid in MAPPED_SET:
        return sig_msg(sid), False
    if gid != 1 and (gid, sid) in GEN_SET:
        return gen_msg(gid, sid), False
    return "Unknown Alert %d:%d" % (gid, sid), True


MAPPED_SET = set(MAPPED_SIDS)
GEN_SET = set(GEN_MAPPED)

# ---- packets ----------------------------------------------------------


def eth(ethtype):
    return b"\x00\x11\x22\x33\x44\x55\x66\x77\x88\x99\xaa\xbb" + \
        struct.pack(">H", ethtype)


def l4(proto, sport, dport, payload, rnd):
    if proto == 6:
        return struct.pack(">HHIIBBHHH", sport, dport, rnd.getrandbits(32),
                           rnd.getrandbits(32), 5 << 4, 0x18, 8192, 0, 0) + payload
    if proto == 17:
        return struct.pack(">HHHH", sport, dport, 8 + len(payload), 0) + payload
    # ICMP / ICMPv6 (the decoder reads both the same way): type 8, echo
    # request, so id and seq follow
    return struct.pack(">BBHHH", 8, 0, 0, sport, dport) + payload


def frame(v6, proto, src, dst, sport, dport, payload, rnd):
    seg = l4(proto, sport, dport, payload, rnd)
    if v6:
        hdr = struct.pack(">IHBB", 6 << 28, len(seg), proto, 64) + src + dst
        return eth(0x86DD) + hdr + seg
    hdr = struct.pack(">BBHHHBBH", 0x45, 0, 20 + len(seg), rnd.getrandbits(16),
                      0, 64, proto, 0) + src + dst
    return eth(0x0800) + hdr + seg


def rec(rtype, body):
    return struct.pack(">II", rtype, len(body)) + body

# ---- alerts -----------------------------------------------------------


class AlertModel:
    """Draws alerts and keeps the expectation of what graft must make of
    them. Per sensor, event ids and event seconds rise in file order."""

    def __init__(self, rnd):
        self.rnd = rnd
        self.next_id = {}
        self.next_sec = {}

    def draw(self, sensor):
        # The shares below are chosen, not measured on any sensor: each
        # sets how much work one branch of the ingest layers gets (see
        # "Inputs" in README.md).
        r = self.rnd
        eid = self.next_id.get(sensor, 0) + 1
        self.next_id[sensor] = eid
        esec = self.next_sec.get(sensor, 1700000000) + r.randint(0, 2)
        self.next_sec[sensor] = esec
        u = r.random()
        if u < 0.82:
            gid, sid = 1, r.choice(MAPPED_SIDS)
        elif u < 0.87:
            gid, sid = 1, r.choice(UNMAPPED_SIDS)
        elif u < 0.96:
            gid, sid = r.choice(GEN_MAPPED)
        else:
            gid, sid = r.choice(GEN_UNMAPPED)
        cls = r.choice(UNKNOWN_CLASS_IDS) if r.random() < 0.05 else \
            r.randint(1, len(CLASSES))
        v6 = r.random() < 0.15
        pu = r.random()
        proto = 6 if pu < 0.6 else (17 if pu < 0.85 else (58 if v6 else 1))
        if v6:
            src = bytes([0x20, 0x01, 0x0d, 0xb8] + [0] * 10 +
                        [r.randint(0, 255), r.randint(1, 255)])
            dst = bytes([0xfd, 0x00] + [0] * 12 + [r.randint(0, 255), r.randint(1, 255)])
        else:
            src = bytes([10, r.randint(0, 255), r.randint(0, 255), r.randint(1, 254)])
            dst = bytes([192, 168, r.randint(0, 255), r.randint(1, 254)])
        sport, dport = r.randint(1024, 65535), r.choice([22, 53, 80, 443, 8080])
        pk = r.random()
        npk = 0 if pk < 0.1 else (1 if pk < 0.8 else r.randint(2, 3))
        return dict(sensor=sensor, eid=eid, esec=esec, eusec=r.randint(0, 999999),
                    gid=gid, sid=sid, rev=r.randint(1, 9), cls=cls,
                    prio=r.randint(1, 4), v6=v6, proto=proto, src=src, dst=dst,
                    sport=sport, dport=dport, npk=npk,
                    extra=r.random() < 0.1)

    def records(self, a, sensor_id):
        """The unified2 records of one alert, in spool order."""
        r = self.rnd
        body = struct.pack(">9I", sensor_id, a["eid"], a["esec"], a["eusec"],
                           a["sid"], a["gid"], a["rev"], a["cls"], a["prio"])
        body += a["src"] + a["dst"]
        body += struct.pack(">HHBBBB", a["sport"], a["dport"], a["proto"], 0, 0, 0)
        body += struct.pack(">IHH", 0, 0, 0)  # v2: mpls, vlan, pad
        out = [rec(EVENT_IP6_V2 if a["v6"] else EVENT_V2, body)]
        pkts = []
        for _ in range(a["npk"]):
            n = r.choice([0, 0, 8, 24, 48])
            payload = bytes(r.getrandbits(8) for _ in range(n))
            fr = frame(a["v6"], a["proto"], a["src"], a["dst"], a["sport"],
                       a["dport"], payload, r)
            pkts.append(payload)
            out.append(rec(PACKET, struct.pack(
                ">7I", sensor_id, a["eid"], a["esec"], a["esec"], a["eusec"],
                1, len(fr)) + fr))
        if a["extra"]:
            blob = ("user-%d" % a["eid"]).encode()
            out.append(rec(EXTRA_DATA, struct.pack(
                ">8I", 4, 32 + len(blob), sensor_id, a["eid"], a["esec"], 10, 1,
                len(blob)) + blob))
        a["payloads"] = pkts
        return out


def ts_text(esec):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(esec))


def ip_text(b):
    return str(ipaddress.ip_address(b))


def crc(s):
    return zlib.crc32(s.encode())


class StarExpect:
    """What the star schema of one closed spool must hold."""

    def __init__(self):
        self.sensors = {}
        self.hdr = dict(iphdr=0, tcphdr=0, udphdr=0, icmphdr=0, data=0)
        self.fallback_sig_rows = 0
        self.fallback_class_rows = 0
        self.fallback_msgs = set()
        self.checksum = 0
        self.ip_src_sum = 0
        self.payload_sum = 0

    def add(self, a):
        s = self.sensors.setdefault(a["sensor"], dict(alerts=0, packets=0, rows=0))
        rows = max(a["npk"], 1)
        s["alerts"] += 1
        s["packets"] += a["npk"]
        s["rows"] += rows
        msg, fb = expected_msg(a["gid"], a["sid"])
        if fb:
            self.fallback_sig_rows += rows
            self.fallback_msgs.add(msg)
        if a["cls"] > len(CLASSES):
            self.fallback_class_rows += rows
        self.checksum += rows * crc("%s|%d|%d|%s|%s" % (
            a["sensor"], a["gid"], a["sid"], msg, ts_text(a["esec"])))
        for p in a["payloads"]:
            if not a["v6"]:
                self.hdr["iphdr"] += 1
                self.ip_src_sum += int.from_bytes(a["src"], "big")
            if a["proto"] == 6:
                self.hdr["tcphdr"] += 1
            elif a["proto"] == 17:
                self.hdr["udphdr"] += 1
            else:
                self.hdr["icmphdr"] += 1
            if p:
                self.hdr["data"] += 1
                self.payload_sum += crc(p.hex())

    def json(self):
        return dict(sensors=self.sensors, headers=self.hdr,
                    fallback_sig_rows=self.fallback_sig_rows,
                    fallback_class_rows=self.fallback_class_rows,
                    fallback_msgs=sorted(self.fallback_msgs),
                    checksum=self.checksum, ip_src_sum=self.ip_src_sum,
                    payload_sum=self.payload_sum)


def follow_key(a):
    """The warehouse fields of one alert, as graft's follow sink writes them."""
    msg, _ = expected_msg(a["gid"], a["sid"])
    cls = CLASSES[a["cls"] - 1][0] if a["cls"] <= len(CLASSES) \
        else "unknown-classification"
    return crc("%s|%d|%s|%s|%s" % (a["sensor"], a["eid"], msg, cls, ip_text(a["src"])))


# sensors: one hot sensor carries most alerts; several dirs per sensor
STAR_SENSORS = [("edge-hot", 3, 0.6), ("dmz", 2, 0.25), ("lab", 2, 0.15)]
FOLLOW_SENSORS = [("edge-hot", 3, 0.7), ("dmz", 2, 0.3)]


def spread(total, sensors, rnd):
    """Deal `total` alerts over (sensor, dir) pairs by the sensor shares."""
    out = []
    for name, ndirs, share in sensors:
        n = int(round(total * share))
        per = [n // ndirs + (1 if i < n % ndirs else 0) for i in range(ndirs)]
        out += [(name, "d%d" % i, per[i]) for i in range(ndirs)]
    return out


def write_spool(root, model, sensors, total, files_per_dir, expect=None,
                keys=None):
    """A closed spool: every (sensor, dir) gets `files_per_dir` files.
    Files are written in path order, so per-sensor event order is the
    order graft numbers cids in."""
    sensor_ids = {}
    for name, d, n in sorted(spread(total, sensors, model.rnd)):
        sensor_ids.setdefault(name, len(sensor_ids) + 1)
        os.makedirs(os.path.join(root, name, d), exist_ok=True)
        per = [n // files_per_dir + (1 if i < n % files_per_dir else 0)
               for i in range(files_per_dir)]
        for fi, cnt in enumerate(per):
            buf = bytearray()
            for _ in range(cnt):
                a = model.draw(name)
                for r in model.records(a, sensor_ids[name]):
                    buf += r
                if expect is not None:
                    expect.add(a)
                if keys is not None:
                    keys.append(follow_key(a))
            with open(os.path.join(root, name, d, "snort.log.%d" % (1000 + fi)),
                      "wb") as f:
                f.write(buf)
    return sensor_ids

# ---- workloads --------------------------------------------------------


STAR_SLICES = 4
STAR_SLICE_ALERTS = 4000
STAR_WARM_ALERTS = 1000
FOLLOW_BACKLOG_ALERTS = 60000
# append schedule: APPEND_RATE appends/s over all active files, each
# ALERTS_PER_APPEND alerts; generated for the longest run (60 s)
APPEND_RATE = 20
ALERTS_PER_APPEND = 25
APPEND_SECONDS = 60


def gen_star(out, seed):
    rnd = random.Random(seed)
    write_maps(os.path.join(out, "maps"))
    expects = {}
    for k in range(STAR_SLICES):
        model = AlertModel(rnd)
        e = StarExpect()
        write_spool(os.path.join(out, "star", "slice%d" % k), model,
                    STAR_SENSORS, STAR_SLICE_ALERTS, 3, expect=e)
        expects["slice%d" % k] = e.json()
    e = StarExpect()
    write_spool(os.path.join(out, "star", "warm"), AlertModel(rnd),
                STAR_SENSORS, STAR_WARM_ALERTS, 1, expect=e)
    expects["warm"] = e.json()
    with open(os.path.join(out, "star", "expect.json"), "w") as f:
        json.dump(expects, f)


def gen_follow(out, seed):
    rnd = random.Random(seed)
    write_maps(os.path.join(out, "maps"))
    model = AlertModel(rnd)
    keys = []
    root = os.path.join(out, "follow", "backlog")
    sensor_ids = write_spool(root, model, FOLLOW_SENSORS, FOLLOW_BACKLOG_ALERTS,
                             2, keys=keys)
    backlog = dict(alerts=len(keys), checksum=sum(keys))
    # a small separate spool warms the streaming path during set-up
    wkeys = []
    write_spool(os.path.join(out, "follow", "warm"), AlertModel(rnd),
                FOLLOW_SENSORS, 2000, 1, keys=wkeys)
    # the append schedule: weighted round robin over (sensor, dir); each
    # dir rolls over to a new file every ROLL appends; every TEAR-th
    # append to a file stops inside its last record and the next append
    # to that file completes it, as snort's buffered writes do
    dirs = []
    for name, ndirs, share in FOLLOW_SENSORS:
        for i in range(ndirs):
            dirs.append((name, "d%d" % i, share / ndirs))
    roll, tear = 40, 5
    state = {(n, d): dict(file=1002, count=0, carry=b"", off=0, roll=roll)
             for n, d, _ in dirs}
    weights = [w for _, _, w in dirs]
    appends, blob = [], bytearray()
    n_total = APPEND_RATE * APPEND_SECONDS
    for i in range(n_total):
        name, d, _ = rnd.choices(dirs, weights)[0]
        st = state[(name, d)]
        if st["count"] >= st["roll"] and not st["carry"]:
            st["file"] += 1
            st["off"] = 0
            st["roll"] += roll
        st["count"] += 1
        # the alert torn by the previous append to this file is counted
        # here, in the append that completes it
        chunk = bytearray(st["carry"])
        sums, n_alerts = 0, 0
        if st["carry"]:
            sums, n_alerts = st["carry_key"], 1
        st["carry"] = b""
        for _ in range(ALERTS_PER_APPEND):
            a = model.draw(name)
            for r in model.records(a, sensor_ids[name]):
                chunk += r
            sums += follow_key(a)
            n_alerts += 1
        if st["count"] % tear == 0:
            # tear the start of one more alert onto the end of this chunk
            a = model.draw(name)
            rb = b"".join(model.records(a, sensor_ids[name]))
            cut = rnd.randint(1, len(rb) - 1)
            chunk += rb[:cut]
            st["carry"], st["carry_key"] = rb[cut:], follow_key(a)
        st["off"] += len(chunk)
        complete = st["off"] - len(st["carry"])
        clean = all(not s["carry"] for s in state.values())
        appends.append(dict(sensor=name, dir=d, file="snort.log.%d" % st["file"],
                            start=len(blob), length=len(chunk),
                            alerts=n_alerts,
                            completeOff=complete, checksum=sums, clean=clean))
        blob += chunk
    with open(os.path.join(out, "follow", "appends.bin"), "wb") as f:
        f.write(blob)
    with open(os.path.join(out, "follow", "appends.json"), "w") as f:
        json.dump(dict(rate=APPEND_RATE, appends=appends), f)
    with open(os.path.join(out, "follow", "expect.json"), "w") as f:
        json.dump(dict(backlog=backlog,
                       warm=dict(alerts=len(wkeys), checksum=sum(wkeys))), f)


def gen_sf(out, seed, scale=0.01):
    """TPC-H-like tables plus events / documents / embeddings with the
    value domains the operator entries filter and group on. Scale 0.01,
    not 0.1: README.md ("Scale of the entry_mix tables") gives what 0.1
    was measured to cost."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    d = os.path.join(out, "sf")
    os.makedirs(d, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(d, name + ".parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    n_cust, n_supp, n_part = int(150000 * scale), max(int(10000 * scale), 20), \
        int(200000 * scale)
    n_ord, n_li = int(1500000 * scale), int(6000000 * scale)
    put("region", dict(r_regionkey=pa.array(range(5), pa.int32()),
                       r_name=["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]))
    put("nation", dict(n_nationkey=pa.array(range(25), pa.int32()),
                       n_name=["NATION_%d" % i for i in range(25)],
                       n_regionkey=pa.array([i % 5 for i in range(25)], pa.int32())))
    segs = np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"])
    put("customer", dict(
        c_custkey=np.arange(n_cust, dtype=np.int64),
        c_name=["Customer#%09d" % i for i in range(n_cust)],
        c_nationkey=rng.integers(0, 25, n_cust).astype(np.int32),
        c_acctbal=money(-999.99, 9999.99, n_cust),
        c_mktsegment=segs[rng.integers(0, 5, n_cust)]))
    put("supplier", dict(
        s_suppkey=np.arange(n_supp, dtype=np.int64),
        s_name=["Supplier#%09d" % i for i in range(n_supp)],
        s_nationkey=rng.integers(0, 25, n_supp).astype(np.int32),
        s_acctbal=money(-999.99, 9999.99, n_supp)))
    adj = ["small", "large", "red", "blue", "hot", "cold", "shiny", "green"]
    noun = ["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "plate"]
    names = np.array(["%s %s" % (a, b) for a in adj for b in noun])
    types = np.array(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"])
    put("part", dict(
        p_partkey=np.arange(n_part, dtype=np.int64),
        p_name=names[rng.integers(0, len(names), n_part)],
        p_brand=np.array(["Brand#%d" % i for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        p_type=types[rng.integers(0, 6, n_part)],
        p_size=rng.integers(1, 51, n_part).astype(np.int32),
        p_retailprice=np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)))
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", dict(
        o_orderkey=np.arange(n_ord, dtype=np.int64),
        o_custkey=rng.integers(0, n_cust, n_ord).astype(np.int64),
        o_orderstatus=np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        o_totalprice=money(1000, 500000, n_ord),
        o_orderdate=days("1995-01-01", 2400, n_ord),
        o_orderpriority=prios[rng.integers(0, 5, n_ord)]))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", dict(
        l_orderkey=rng.integers(0, n_ord, n_li).astype(np.int64),
        l_partkey=rng.integers(0, n_part, n_li).astype(np.int64),
        l_suppkey=rng.integers(0, n_supp, n_li).astype(np.int64),
        l_linenumber=rng.integers(1, 8, n_li).astype(np.int32),
        l_quantity=qty,
        l_extendedprice=np.round(qty * rng.uniform(900, 2100, n_li), 2),
        l_discount=rng.integers(0, 11, n_li) / 100.0,
        l_tax=rng.integers(0, 9, n_li) / 100.0,
        l_returnflag=np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        l_linestatus=np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        l_shipdate=days("1995-01-02", 2500, n_li)))
    n_ev = int(1000000 * scale)
    ev_ts = np.sort(np.datetime64("2024-01-01", "us") +
                    rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    put("events", dict(
        event_id=np.arange(n_ev, dtype=np.int64), ts=ev_ts,
        user_id=rng.integers(0, max(int(1500 * scale * 10), 50), n_ev).astype(np.int64),
        event_type=np.array(["signup", "error", "click", "view", "purchase"])[
            rng.integers(0, 5, n_ev)],
        value=np.round(rng.uniform(0.01, 490, n_ev), 2),
        props=['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]))
    vocab = ("batch part spark line column order small sort fast value scan a "
             "hash slow group agg filter query big key window row table stream "
             "merge data the join customer vector").split()
    n_doc = int(50000 * scale)
    lens = rng.integers(8, 90, n_doc)
    texts = [" ".join(vocab[j] for j in rng.integers(0, len(vocab), k)) for k in lens]
    put("documents", dict(
        doc_id=np.arange(n_doc, dtype=np.int64), text=texts,
        lang=np.array(["en", "en", "en", "zh", "es", "de", "fr"])[
            rng.integers(0, 7, n_doc)],
        source=["src%d" % (i % 20) for i in range(n_doc)],
        n_chars=np.array([len(t) for t in texts], dtype=np.int64)))
    n_emb = int(20000 * scale)
    centers = rng.normal(0, 0.2, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = (centers[label] + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    put("embeddings", dict(
        vec_id=np.arange(n_emb, dtype=np.int64),
        embedding=pa.array(list(vec), pa.list_(pa.float32())),
        label=label.astype(np.int32)))


def main():
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    {"star_etl": gen_star, "spool_follow": gen_follow,
     "entry_mix": gen_sf}[workload](out, seed)


if __name__ == "__main__":
    main()
