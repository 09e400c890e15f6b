"""Correctness checks of the outputs a benchmark run wrote.

Every check reads the output the timed action wrote and compares it with a
computation made apart from the program (DuckDB over the same inputs) or with
a property the method must have. Each returns a list of problems; an empty
list means correct.

Query results are compared with their DuckDB oracle in the canonical form
of `tools/oracle_check.py`, imported from it: columns sorted by name, values
stringified, rows sorted, then hashed. Oracle digests are cached in `cache_dir`, keyed by
the oracle SQL text and the bytes of the corpus files, so a changed oracle or
corpus recomputes its digest on the next run
(`python3 perfbench/run.py --rebuild-oracles` refills the whole cache).
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
# the canonical form of the repo's oracle gate, so both judge alike
from oracle_check import TABLES as CORPUS_TABLES, canon  # noqa: E402
from oracle_check import digest as _digest_canonical  # noqa: E402


def digest(df):
    return _digest_canonical(canon(df))


def read_parquet_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError("no parquet output under %s" % path)
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


# ------------------------------------------------------------ query oracles

def corpus_key(sf_dir):
    h = hashlib.sha256()
    for t in CORPUS_TABLES:
        p = os.path.join(sf_dir, t + ".parquet")
        h.update(t.encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in CORPUS_TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                    % (t, sf_dir, t))
    return con


def oracle_sql_for(sql, sf_dir):
    # q61's oracle pins the sf0.01 paths; point it at this corpus
    return sql.replace("/root/testdata/sf0.01", os.path.abspath(sf_dir))


class OracleCache:
    """Digest of each oracle's result, one JSON file per (SQL, corpus)."""

    def __init__(self, cache_dir, sf_dir):
        self.dir, self.sf_dir = cache_dir, sf_dir
        self.corpus = corpus_key(sf_dir)
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def digest(self, sql):
        key = hashlib.sha256((self.corpus + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)["digest"]
        if self._con is None:
            self._con = oracle_con(self.sf_dir)
        d = digest(self._con.sql(oracle_sql_for(sql, self.sf_dir)).df())
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"digest": d, "sql": sql}, f)
        os.replace(tmp, path)
        return d


def check_queries(out_dir, items, cache):
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = []
    for q in items:
        if not oracle.get(q):
            problems.append("%s: no oracle SQL" % q)
            continue
        try:
            got = digest(read_parquet_dir(os.path.join(out_dir, q)))
        except Exception as e:  # unreadable output is a wrong output
            problems.append("%s: %s" % (q, e))
            continue
        if got != cache.digest(oracle[q]):
            problems.append("%s: output does not match its oracle" % q)
    return problems


# ------------------------------------------------------------ lake jobs

DBS_DATASETS = [("d_dataset_id", "BIGINT"), ("d_dataset", "VARCHAR"),
                ("d_is_dataset_valid", "INT"), ("d_primary_ds_id", "BIGINT"),
                ("d_processed_ds_id", "BIGINT"), ("d_data_tier_id", "INT"),
                ("d_dataset_access_type_id", "INT"),
                ("d_acquisition_era_id", "INT"),
                ("d_processing_era_id", "INT"), ("d_physics_group_id", "INT"),
                ("d_xtcrosssection", "DOUBLE"), ("d_prep_id", "VARCHAR"),
                ("d_creation_date", "DOUBLE"), ("d_create_by", "VARCHAR"),
                ("d_last_modification_date", "DOUBLE"),
                ("d_last_modified_by", "VARCHAR")]
DBS_FILES = [("f_file_id", "BIGINT"), ("f_logical_file_name", "VARCHAR"),
             ("f_is_file_valid", "INT"), ("f_dataset_id", "BIGINT"),
             ("f_block_id", "BIGINT"), ("f_file_type_id", "INT"),
             ("f_check_sum", "VARCHAR"), ("f_event_count", "BIGINT"),
             ("f_file_size", "DOUBLE"), ("f_branch_hash_id", "INT"),
             ("f_adler32", "VARCHAR"), ("f_md5", "VARCHAR"),
             ("f_auto_cross_section", "DOUBLE"),
             ("f_creation_date", "DOUBLE"), ("f_create_by", "VARCHAR"),
             ("f_last_modification_date", "DOUBLE"),
             ("f_last_modified_by", "VARCHAR")]
PHEDEX = [("now_sec", "DOUBLE"), ("dataset_name", "VARCHAR"),
          ("dataset_id", "INT"), ("dataset_is_open", "VARCHAR"),
          ("dataset_time_create", "DOUBLE"),
          ("dataset_time_update", "DOUBLE"), ("block_name", "VARCHAR"),
          ("block_id", "INT"), ("block_files", "INT"),
          ("block_bytes", "BIGINT"), ("block_is_open", "VARCHAR"),
          ("block_time_create", "DOUBLE"), ("block_time_update", "DOUBLE"),
          ("node_name", "VARCHAR"), ("node_id", "INT"),
          ("br_is_active", "VARCHAR")] + \
    [(c, "BIGINT") for c in ["br_src_files", "br_src_bytes", "br_dest_files",
                             "br_dest_bytes", "br_node_files",
                             "br_node_bytes", "br_xfer_files",
                             "br_xfer_bytes"]] + \
    [("br_is_custodial", "VARCHAR"), ("br_user_group_id", "INT"),
     ("replica_time_create", "DOUBLE"), ("replica_time_updater", "DOUBLE")]
CONDOR_DATA = ("STRUCT(GlobalJobId VARCHAR, RecordTime BIGINT, "
               "Status VARCHAR, Site VARCHAR, Type VARCHAR, "
               "CpuTimeHr DOUBLE, CoreHr DOUBLE, CRAB_UserHN VARCHAR, "
               "Workflow VARCHAR)")


def _csv_view(con, name, pattern, cols):
    spec = ", ".join("'%s': '%s'" % c for c in cols)
    con.execute("CREATE VIEW %s AS SELECT * FROM read_csv('%s', header=false,"
                " nullstr='null', columns={%s})" % (name, pattern, spec))


def lake_con(lake):
    con = duckdb.connect()
    d = os.path.join(lake, "%s", "2024", "03", "03", "*.csv")
    _csv_view(con, "datasets", d % "dbs/datasets", DBS_DATASETS)
    _csv_view(con, "files", d % "dbs/files", DBS_FILES)
    _csv_view(con, "phedex", d % "phedex", PHEDEX)
    for t in ["replicas", "dids", "contents", "rses"]:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, os.path.join(
            lake, "parquet", "rucio", "2024-03-03", t + ".parquet")))
    con.execute("CREATE VIEW condor AS SELECT data FROM read_json('%s', "
                "format='newline_delimited', columns={'data': '%s'})"
                % (os.path.join(lake, "condor", "*", "*", "*", "*.json"),
                   CONDOR_DATA))
    return con


def _dec(c):
    return "CAST(sum(CAST(%s AS DECIMAL(18,4))) AS DOUBLE)" % c


# job -> (reference SQL over the raw rows, [(conserved SQL over the job's
# output `o`, planted total in manifest.json)])
LAKE_JOBS = {
    "event_count_by_tier": (
        """SELECT split_part(d.d_dataset, '/', 4) AS tier,
                  CAST(sum(f.f_event_count) AS BIGINT) AS evts,
                  CAST(sum(CAST(f.f_file_size AS DECIMAL(18,0))) AS DOUBLE)
                    AS size,
                  count(*) AS n_files
           FROM files f JOIN datasets d ON f.f_dataset_id = d.d_dataset_id
           GROUP BY 1""",
        [("SELECT sum(n_files) FROM o", "dbs_joined_files"),
         ("SELECT sum(evts) FROM o", "dbs_joined_events")]),
    "rucio_datasets_stats": (
        """WITH rep AS (SELECT NAME AS fname, lower(hex(RSE_ID)) AS rse_id,
                          BYTES AS rep_bytes, ACCESSED_AT AS rep_acc
                        FROM replicas WHERE STATE = 'A' AND SCOPE = 'cms'),
           fd AS (SELECT NAME AS dname, BYTES AS did_bytes,
                         ACCESSED_AT AS did_acc
                  FROM dids WHERE DID_TYPE = 'F' AND HIDDEN = 0
                    AND DELETED_AT IS NULL),
           fm AS (SELECT coalesce(fname, dname) AS file_name, rse_id,
                         coalesce(rep_bytes, did_bytes) AS fsize,
                         CASE WHEN rep_acc IS NULL THEN did_acc
                              WHEN did_acc IS NULL THEN rep_acc
                              ELSE greatest(rep_acc, did_acc) END
                           AS accessed_at
                  FROM rep FULL JOIN fd ON fname = dname),
           bf AS (SELECT NAME AS block, CHILD_NAME AS file_name
                  FROM contents WHERE DID_TYPE = 'D' AND CHILD_TYPE = 'F'),
           db AS (SELECT NAME AS dataset, CHILD_NAME AS block
                  FROM contents WHERE DID_TYPE = 'C' AND CHILD_TYPE = 'D'),
           f2d AS (SELECT file_name, dataset FROM bf JOIN db USING (block)),
           r AS (SELECT lower(hex(ID)) AS rse_id, RSE AS rse FROM rses
                 WHERE DELETED_AT IS NULL)
           SELECT coalesce(r.rse, 'UNKNOWN') AS rse,
                  coalesce(f2d.dataset, 'UNKNOWN') AS dataset,
                  count(*) AS n_files,
                  CAST(sum(CASE WHEN accessed_at IS NOT NULL THEN 1 ELSE 0
                           END) AS BIGINT) AS n_accessed,
                  CAST(sum(fsize) AS BIGINT) AS total_bytes,
                  max(accessed_at) AS last_accessed_at
           FROM fm LEFT JOIN f2d USING (file_name) LEFT JOIN r USING (rse_id)
           GROUP BY r.rse, f2d.dataset""",
        [("SELECT sum(n_files) FROM o", "rucio_stats_files"),
         ("SELECT sum(total_bytes) FROM o", "rucio_stats_bytes")]),
    "condor_cpu_efficiency": (
        """SELECT data.Workflow AS workflow, data.Site AS site,
                  data.Type AS job_type,
                  CASE WHEN %(core)s = 0 THEN NULL
                       ELSE CAST(100.0 AS DOUBLE) * %(cpu)s / %(core)s END
                    AS cpu_eff_pct,
                  %(core)s AS total_core_hr, count(*) AS n_jobs
           FROM condor
           WHERE data.Status = 'Completed'
             AND regexp_matches(data.Site, '^T(1|2)_') AND data.CoreHr > 0
           GROUP BY 1, 2, 3""" % {"core": _dec("data.CoreHr"),
                                  "cpu": _dec("data.CpuTimeHr")},
        [("SELECT sum(n_jobs) FROM o", "condor_eff_jobs")]),
    "phedex_snapshot": (
        """SELECT strftime(epoch_ms(CAST(trunc(now_sec) AS BIGINT) * 1000),
                           '%Y%m%d') AS date,
                  node_name AS site, dataset_name AS dataset,
                  CAST(sum(block_bytes) AS BIGINT) AS size,
                  strftime(epoch_ms(CAST(trunc(replica_time_create) AS BIGINT)
                           * 1000), '%Y%m%d') AS replica_date,
                  CAST(br_user_group_id AS BIGINT) AS groupid
           FROM phedex
           WHERE NOT (suffix(node_name, '_MSS') OR suffix(node_name, '_Buffer')
                      OR suffix(node_name, '_Export'))
           GROUP BY node_name, dataset_name, replica_time_create,
                    br_user_group_id, 1""",
        [("SELECT sum(size) FROM o", "phedex_kept_bytes")]),
}


def read_job_output(con, path, types):
    """A job's output as written, CSV cast to the reference's types."""
    if glob.glob(os.path.join(path, "*.csv")):
        cols = ", ".join('CAST("%s" AS %s) AS "%s"' % (c, t, c)
                         for c, t in types)
        return con.sql("SELECT %s FROM read_csv('%s', header=true, "
                       "all_varchar=true)" % (cols, os.path.join(path, "*.csv")))
    return con.sql("SELECT * FROM read_parquet('%s')"
                   % os.path.join(path, "*.parquet"))


def check_lake(out_dir, lake):
    with open(os.path.join(lake, "manifest.json")) as f:
        planted = json.load(f)["planted"]
    con = lake_con(lake)
    problems = []
    for job, (sql, conserved) in LAKE_JOBS.items():
        ref = con.sql(sql)
        types = list(zip(ref.columns, [str(t) for t in ref.types]))
        try:
            got = read_job_output(con, os.path.join(out_dir, job), types)
            want_df, got_df = ref.df(), got.df()
        except Exception as e:
            problems.append("%s: %s" % (job, e))
            continue
        if sorted(got_df.columns) != sorted(want_df.columns):
            problems.append("%s: columns %s, expected %s" % (
                job, sorted(got_df.columns), sorted(want_df.columns)))
            continue
        if digest(got_df) != digest(want_df):
            problems.append("%s: output differs from the DuckDB reference "
                            "(%d rows, expected %d)"
                            % (job, len(got_df), len(want_df)))
        con.register("o", got_df)
        for q, key in conserved:
            total = con.sql(q).fetchone()[0]
            if total is None or int(total) != planted[key]:
                problems.append("%s: %s = %s, planted %s"
                                % (job, q, total, planted[key]))
    return problems


# ------------------------------------------------------------ stream

INDEX_TABLES = ["fps", "postings", "dfs"]


def check_stream(out_dir, stream):
    passes = sorted(glob.glob(os.path.join(out_dir, "pass-*", "pass.json")))
    if not passes:
        return ["no completed stream pass under %s" % out_dir]
    pass_dir = os.path.dirname(passes[-1])
    with open(passes[-1]) as f:
        info = json.load(f)
    con = duckdb.connect()
    landed = [os.path.join(pass_dir, "src", n) for n in info["landed"]]
    inputs = con.sql("SELECT * FROM read_parquet(%s)" % landed).df()
    docs = con.sql("SELECT id, body, batch FROM read_parquet('%s', "
                   "hive_partitioning=true)"
                   % os.path.join(pass_dir, "store", "docs", "*", "*.parquet")
                   ).df()
    problems = []
    ids = set(docs["id"])
    if not ids <= set(inputs["id"]):
        problems.append("admitted ids outside the input")
    if len(ids) != len(docs):
        problems.append("an id is admitted twice")
    if docs["body"].nunique() != len(docs):
        problems.append("two admitted docs have byte-identical text")
    if len(docs) > inputs["body"].nunique():
        problems.append("more admitted docs than distinct input texts")
    if len(docs) == 0:
        problems.append("nothing admitted")
    if (docs["batch"] == info["last_batch"]).any():
        problems.append("the redelivered batch admitted documents")
    if sorted(ids) != info["admitted_before_compaction"]:
        problems.append("compaction changed the admitted corpus")
    # One partition per index table is a property of compaction. The run
    # counts a compaction that breaks it as a failed operation
    # (StaleIndexPartitions); the check holds the run to its own count.
    for t in INDEX_TABLES:
        parts = glob.glob(os.path.join(pass_dir, "store", t, "batch=*"))
        if len(parts) != info["index_partitions"][t]:
            problems.append("%s has %d partitions after compaction, the run "
                            "counted %d" % (t, len(parts),
                                            info["index_partitions"][t]))
    return problems

