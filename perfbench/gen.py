"""Seeded input generators for the `lake_jobs` and `stream_admit` workloads.

`make_lake(seed, dst)` writes a date-partitioned CMS lake of raw dumps:
DBS CSV snapshots, Rucio Avro snapshot dumps (plus a parquet copy of the same
rows for DuckDB), MONIT JSON envelopes of HTCondor records and a PhEDEx CSV
block-replica snapshot. Join keys close as FIXTURES.md B.5 asks, with planted
orphans, NULLs, `'null'` CSV literals, re-sent condor records and
`_MSS/_Buffer/_Export` sites. It also writes `manifest.json` with totals the
generator planted, which the checks use as conserved quantities.

`make_stream(seed, dst)` writes the document micro-batches of `stream_admit`
(planted exact and near duplicates, off-domain documents) and the reference
corpus the admission gate's language model is built from.

Both are pure functions of the seed: the same seed gives byte-identical files.
"""
import json
import os
import random
import struct

import pyarrow as pa
import pyarrow.parquet as pq

LAKE_DAYS = ["2024-03-01", "2024-03-02", "2024-03-03"]
SNAPSHOT_DAY = LAKE_DAYS[-1]
N_DATASETS = 300
TIERS = ["AOD", "AODSIM", "MINIAOD", "MINIAODSIM", "NANOAOD", "RAW", "RECO",
         "USER"]
RSES = ["T1_US_FNAL_Disk", "T1_DE_KIT_Disk", "T1_IT_CNAF_Tape", "T2_CH_CERN",
        "T2_US_MIT", "T2_DE_DESY", "T2_FR_GRIF", "T2_UK_London_IC",
        "T2_US_Wisconsin", "T2_IT_Pisa", "T3_US_FNALLPC", "T2_CH_CERNTemp",
        "T2_US_MITTest", "T1_RU_JINR_Disk"]
DELETED_RSE = "T1_RU_JINR_Disk"
PHEDEX_NODES = ["T1_US_FNAL_MSS", "T1_US_FNAL_Buffer", "T1_DE_KIT_Export",
                "T1_US_FNAL_Disk", "T2_CH_CERN", "T2_US_MIT", "T2_DE_DESY",
                "T0_CH_CERN_Disk", "T3_CH_CC_Lab"]
CONDOR_SITES = ["T1_US_FNAL", "T1_DE_KIT", "T2_CH_CERN", "T2_US_MIT",
                "T2_DE_DESY", "T3_US_NERSC", "T3_US_OSG", "T0_CH_CERN"]
EPOCH_0301 = 1709251200  # 2024-03-01T00:00:00Z


def _day_epoch(day):
    return EPOCH_0301 + LAKE_DAYS.index(day) * 86400


def _dated_dir(root, source, day):
    y, m, d = day.split("-")
    return os.path.join(root, source, y, m, d)


# ---------------------------------------------------------------- avro

def _zigzag(n):
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _enc(ftype, v):
    if isinstance(ftype, list):  # ["null", T]
        return b"\x00" if v is None else b"\x02" + _enc(ftype[1], v)
    if ftype in ("long", "int"):
        return _zigzag(v)
    if ftype == "string":
        v = v.encode()
    if ftype in ("string", "bytes"):
        return _zigzag(len(v)) + v
    if ftype == "double":
        return struct.pack("<d", v)
    raise ValueError(ftype)


def write_avro(path, name, fields, rows, sync):
    """Avro object container file, null codec, one block per 4096 rows."""
    schema = json.dumps({"type": "record", "name": name,
                         "fields": [{"name": n, "type": t}
                                    for n, t in fields]})
    out = bytearray(b"Obj\x01")
    meta = {"avro.schema": schema.encode(), "avro.codec": b"null"}
    out += _zigzag(len(meta))
    for k, v in meta.items():
        out += _enc("string", k) + _enc("bytes", v)
    out += b"\x00" + sync
    for i in range(0, len(rows), 4096):
        chunk = rows[i:i + 4096]
        body = b"".join(_enc(t, r[j]) for r in chunk
                        for j, (_, t) in enumerate(fields))
        out += _zigzag(len(chunk)) + _zigzag(len(body)) + body + sync
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(out)


_ARROW = {"long": pa.int64(), "int": pa.int32(), "string": pa.string(),
          "bytes": pa.binary(), "double": pa.float64()}


def write_parquet_copy(path, fields, rows):
    cols = {n: pa.array([r[j] for r in rows],
                        _ARROW[t[1] if isinstance(t, list) else t])
            for j, (n, t) in enumerate(fields)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _csv(v):
    if v is None:
        return "null"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def write_csv(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(",".join(_csv(v) for v in r) + "\n")


# ---------------------------------------------------------------- lake

REPLICA_FIELDS = [("NAME", "string"), ("RSE_ID", "bytes"), ("BYTES", "long"),
                  ("STATE", "string"), ("SCOPE", "string"),
                  ("ACCESSED_AT", ["null", "long"]), ("CREATED_AT", "long"),
                  ("LOCK_CNT", "long")]
DID_FIELDS = [("NAME", "string"), ("SCOPE", "string"), ("DID_TYPE", "string"),
              ("HIDDEN", "int"), ("DELETED_AT", ["null", "long"]),
              ("BYTES", "long"), ("ACCESSED_AT", ["null", "long"]),
              ("CREATED_AT", "long")]
CONTENT_FIELDS = [("SCOPE", "string"), ("NAME", "string"),
                  ("CHILD_NAME", "string"), ("DID_TYPE", "string"),
                  ("CHILD_TYPE", "string")]
RSE_FIELDS = [("ID", "bytes"), ("RSE", "string"), ("RSE_TYPE", "string"),
              ("DELETED_AT", ["null", "long"])]


def make_lake(seed, dst):
    rng = random.Random(seed)
    ms0 = EPOCH_0301 * 1000

    def uid():
        return "%032x" % rng.getrandbits(128)

    # DBS snapshot: datasets -> blocks -> files; some files point at
    # dataset ids DBS does not hold (orphans)
    datasets, blocks, files = [], [], []
    for d in range(1, N_DATASETS + 1):
        name = "/Prim%d/Proc%d-v%d/%s" % (rng.randrange(40), rng.randrange(25),
                                          rng.randrange(1, 4),
                                          rng.choice(TIERS))
        datasets.append([d, name + "_%d" % d if rng.random() < 0.02 else name,
                         1, rng.randrange(100), rng.randrange(100),
                         rng.randrange(8), 1, rng.randrange(20),
                         rng.randrange(10), None if rng.random() < 0.3
                         else rng.randrange(12), None, "prep-%d" % d,
                         float(EPOCH_0301 - rng.randrange(10 ** 7)),
                         "dbs", None, None])
    ds_names = {r[0]: r[1] for r in datasets}
    fid = 0
    for d in range(1, N_DATASETS + 1):
        for _ in range(rng.randrange(1, 8)):
            bid = len(blocks) + 1
            bname = "%s#%s" % (ds_names[d], uid())
            nfiles = rng.randrange(2, 14)
            blocks.append([bid, bname, d, 0, rng.choice(RSES), None, nfiles,
                           float(EPOCH_0301 - rng.randrange(10 ** 6)), "dbs",
                           None, None])
            for _ in range(nfiles):
                fid += 1
                files.append([fid, "/store/data/%d/%s.root" % (d, uid()), 1,
                              d, bid, 1, None,
                              None if rng.random() < 0.03
                              else rng.randrange(10 ** 6),
                              None if rng.random() < 0.02
                              else float(rng.randrange(10 ** 9)),
                              None, "%08x" % rng.getrandbits(32), None, None,
                              float(EPOCH_0301 - rng.randrange(10 ** 6)),
                              "dbs", None, None])
    for _ in range(250):  # orphans: dataset id absent from DATASETS
        fid += 1
        files.append([fid, "/store/orphan/%s.root" % uid(), 1,
                      N_DATASETS + 1 + rng.randrange(50), 0, 1, None,
                      rng.randrange(10 ** 6), float(rng.randrange(10 ** 9)),
                      None, None, None, None, 0.0, "dbs", None, None])
    dbs_day = SNAPSHOT_DAY
    write_csv(os.path.join(_dated_dir(dst, "dbs/datasets", dbs_day),
                           "part-00000.csv"), datasets)
    write_csv(os.path.join(_dated_dir(dst, "dbs/blocks", dbs_day),
                           "part-00000.csv"), blocks)
    half = len(files) // 2
    files_dir = _dated_dir(dst, "dbs/files", dbs_day)
    write_csv(os.path.join(files_dir, "part-00000.csv"), files[:half])
    write_csv(os.path.join(files_dir, "part-00001.csv"), files[half:])

    # Rucio snapshot dumps: RSE dim, DIDs, CONTENTS and replicas
    rse_ids = {r: rng.randbytes(16) for r in RSES}
    rses = [[rse_ids[r], r, "TAPE" if "Tape" in r else "DISK",
             ms0 - 10 ** 8 if r == DELETED_RSE else None] for r in RSES]
    dbs_files = [f for f in files if f[3] <= N_DATASETS]
    block_name = {b[0]: b[1] for b in blocks}
    dids, contents = [], []
    for f in files:
        hidden = 1 if rng.random() < 0.02 else 0
        deleted = ms0 - rng.randrange(10 ** 9) if rng.random() < 0.02 \
            else None
        dids.append([f[1], "cms", "F", hidden, deleted,
                     rng.randrange(10 ** 9),
                     None if rng.random() < 0.4
                     else ms0 - rng.randrange(10 ** 10),
                     ms0 - rng.randrange(10 ** 10)])
    for f in dbs_files:
        contents.append(["cms", block_name[f[4]], f[1], "D", "F"])
    for b in blocks:
        contents.append(["cms", ds_names[b[2]], b[1], "C", "D"])

    replicas = []
    for f in files:
        if rng.random() < 0.15:
            continue
        for rse in rng.sample(RSES, rng.randrange(1, 3)):
            replicas.append([f[1], rse_ids[rse], rng.randrange(10 ** 9),
                             "A" if rng.random() < 0.95 else "U",
                             "cms" if rng.random() < 0.97 else "user.jdoe",
                             None if rng.random() < 0.35
                             else ms0 - rng.randrange(10 ** 10),
                             ms0 - rng.randrange(10 ** 10),
                             rng.randrange(3)])
    for _ in range(150):  # replicas of files DBS never saw
        replicas.append(["/store/backfill/%s.root" % uid()
                         if rng.random() < 0.5
                         else "/store/unknown/%s.root" % uid(),
                         rse_ids[rng.choice(RSES)], rng.randrange(10 ** 9),
                         "A", "cms", None, ms0 - rng.randrange(10 ** 10), 0])
    sync = rng.randbytes(16)
    # rucio_datasets_stats file map: available cms replicas of the snapshot
    # day, full-outer-joined to the visible file DIDs
    live = [r for r in replicas if r[3] == "A" and r[4] == "cms"]
    live_names = {r[0] for r in live}
    did_bytes = {d[0]: d[5] for d in dids
                 if d[3] == 0 and d[4] is None}
    stats_files = len(live) + sum(1 for n in did_bytes if n not in live_names)
    stats_bytes = sum(r[2] for r in live) + sum(
        b for n, b in did_bytes.items() if n not in live_names)
    snap = os.path.join(dst, "rucio", SNAPSHOT_DAY)
    for name, fields, rows in [("replicas", REPLICA_FIELDS, replicas),
                               ("dids", DID_FIELDS, dids),
                               ("contents", CONTENT_FIELDS, contents),
                               ("rses", RSE_FIELDS, rses)]:
        write_avro(os.path.join(snap, name, "part-00000.avro"), name, fields,
                   rows, sync)
        write_parquet_copy(os.path.join(dst, "parquet", "rucio",
                                        SNAPSHOT_DAY, name + ".parquet"),
                           fields, rows)

    # HTCondor MONIT envelopes, one directory per day; ~4% of records are
    # re-sent unchanged in the next day's file
    condor_days = {d: [] for d in LAKE_DAYS}
    resend = []
    users = ["user%d" % i for i in range(60)]
    n_job = 0
    for di, day in enumerate(LAKE_DAYS):
        t0 = _day_epoch(day) * 1000
        condor_days[day].extend(resend)
        resend = []
        for _ in range(4000):
            n_job += 1
            core = round(rng.uniform(0.0, 8.0), 2) if rng.random() > 0.05 \
                else 0.0
            data = {
                "GlobalJobId": "schedd%d#%d.0#%d" % (rng.randrange(9), n_job,
                                                     t0),
                "RecordTime": t0 + rng.randrange(86400 * 1000),
                "Status": rng.choice(["Completed", "Completed", "Running",
                                      "Removed"]),
                "Site": rng.choice(CONDOR_SITES),
                "Tier": "T2",
                "Type": rng.choice(["analysis", "production"]),
                "JobFailed": rng.randrange(2),
                "WallClockHr": round(rng.uniform(0.1, 10.0), 2),
                "CpuTimeHr": round(rng.uniform(0.0, 8.0), 2),
                "CoreHr": core,
                "RequestCpus": None if rng.random() < 0.1
                else float(rng.choice([1, 2, 4, 8])),
                "CRAB_UserHN": None if rng.random() < 0.2
                else rng.choice(users),
                "Workflow": "wf%d" % rng.randrange(40),
            }
            rec = {"data": data, "metadata": {"timestamp": data["RecordTime"]}}
            condor_days[day].append(rec)
            if rng.random() < 0.04 and di + 1 < len(LAKE_DAYS):
                resend.append(rec)
    condor_eff_jobs = 0
    for day, recs in condor_days.items():
        path = os.path.join(_dated_dir(dst, "condor", day), "part-00000.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in recs:
                f.write(json.dumps(rec, separators=(",", ":")) + "\n")
                d = rec["data"]
                if d["Status"] == "Completed" and d["CoreHr"] > 0 and \
                        d["Site"][:3] in ("T1_", "T2_"):
                    condor_eff_jobs += 1

    # PhEDEx block-replica snapshot; some datasets unknown to DBS
    now = float(_day_epoch(SNAPSHOT_DAY) + 3600)
    phedex, phedex_kept = [], 0
    for b in blocks + [[len(blocks) + i, "/Ghost%d/X-v1/AOD#%s" % (i, uid()),
                        0] for i in range(1, 40)]:
        dsname = b[1].split("#")[0]
        for node in rng.sample(PHEDEX_NODES, rng.randrange(1, 4)):
            nbytes = rng.randrange(10 ** 10)
            phedex.append([now, dsname, b[2], "y", now - 10 ** 6, now,
                           b[1], b[0], rng.randrange(1, 20), nbytes, "n",
                           now - 10 ** 6, now, node,
                           PHEDEX_NODES.index(node), "y", 0, 0, 0, 0, 0, 0,
                           0, 0, "n", rng.choice([None, 1, 2, 3]),
                           float(_day_epoch(SNAPSHOT_DAY) -
                                 86400 * rng.randrange(400)), now])
            if not node.endswith(("_MSS", "_Buffer", "_Export")):
                phedex_kept += nbytes
    write_csv(os.path.join(_dated_dir(dst, "phedex", SNAPSHOT_DAY),
                           "part-00000.csv"), phedex)

    manifest = {
        "seed": seed,
        "days": LAKE_DAYS,
        "snapshot_day": SNAPSHOT_DAY,
        "rows": {"datasets": len(datasets), "blocks": len(blocks),
                 "files": len(files),
                 "replicas": len(replicas),
                 "dids": len(dids), "contents": len(contents),
                 "condor": sum(len(r) for r in condor_days.values()),
                 "phedex": len(phedex)},
        "planted": {
            "dbs_joined_files": len(dbs_files),
            "dbs_joined_events": sum(f[7] for f in dbs_files
                                     if f[7] is not None),
            "rucio_stats_files": stats_files,
            "rucio_stats_bytes": stats_bytes,
            "condor_eff_jobs": condor_eff_jobs,
            "phedex_kept_bytes": phedex_kept,
            "rse_deleted": DELETED_RSE,
        },
    }
    with open(os.path.join(dst, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


# ---------------------------------------------------------------- stream

STREAM_BATCHES = 1
STREAM_BATCH_DOCS = 100


def write_frozen_model(ref, path):
    """The admission gate's frozen reference model, counted as
    `LanguageModel.bigramModel` counts it: tokens split on " ", one row
    `w1<TAB>w2<TAB>c<TAB>c1` per bigram, where c counts the bigram and c1
    its prefix. Returns V, the number of distinct reference tokens. A model
    is frozen once per release, so it is an input here, not per-run work."""
    pairs, tokens = {}, set()
    for text in ref:
        toks = text.split(" ")
        tokens.update(toks)
        for bg in zip(toks, toks[1:]):
            pairs[bg] = pairs.get(bg, 0) + 1
    prefix = {}
    for (w1, _), c in pairs.items():
        prefix[w1] = prefix.get(w1, 0) + c
    with open(path, "w") as f:
        for (w1, w2), c in sorted(pairs.items()):
            f.write("%s\t%s\t%d\t%d\n" % (w1, w2, c, prefix[w1]))
    return len(tokens)


def make_stream(seed, dst):
    """Micro-batches `batch-NNN.parquet` (id, body) plus the frozen model
    `model.tsv` of 300 reference texts.

    Per document: 15% exact copy of an earlier text, 15% near copy (one
    word swapped), 10% off-domain text the language-model gate rejects,
    the rest fresh in-domain text from a Zipf-like vocabulary."""
    rng = random.Random(seed ^ 0x5EED)
    vocab = ["w%d" % i for i in range(400)]
    weights = [1.0 / (i + 1) for i in range(len(vocab))]

    def fresh():
        return " ".join(rng.choices(vocab, weights, k=rng.randrange(12, 30)))

    def off_domain():
        return " ".join("z%d" % rng.randrange(500)
                        for _ in range(rng.randrange(12, 30)))

    os.makedirs(dst, exist_ok=True)
    produced, next_id = [], 1
    for b in range(STREAM_BATCHES):
        ids, bodies = [], []
        for _ in range(STREAM_BATCH_DOCS):
            r = rng.random()
            if r < 0.15 and produced:
                text = rng.choice(produced)
            elif r < 0.30 and produced:
                words = rng.choice(produced).split(" ")
                words[rng.randrange(len(words))] = rng.choice(vocab)
                text = " ".join(words)
            elif r < 0.40:
                text = off_domain()
            else:
                text = fresh()
                produced.append(text)
            ids.append(next_id)
            bodies.append(text)
            next_id += 1
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                                 "body": pa.array(bodies, pa.string())}),
                       os.path.join(dst, "batch-%03d.parquet" % b))
    vocab_size = write_frozen_model([fresh() for _ in range(300)],
                                    os.path.join(dst, "model.tsv"))
    manifest = {"seed": seed, "batches": STREAM_BATCHES,
                "batch_docs": STREAM_BATCH_DOCS,
                "docs": STREAM_BATCHES * STREAM_BATCH_DOCS,
                "redeliver_batch": STREAM_BATCHES // 2,
                "vocab": vocab_size}
    with open(os.path.join(dst, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
