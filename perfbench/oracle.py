"""Independent check of the corpus_curation report with DuckDB.

The JVM leaves, under <work>/curation, the report it computed (report.tsv),
the registered DuckDB oracle text of x_pipeline_end_to_end (oracle.sql) and
the path of the generated corpus (documents.path). DuckDB runs the oracle
over the same corpus and the two reports must match row for row.
"""
import hashlib
import json
import os


def check_curation(work, cache_dir):
    out = os.path.join(work, "curation")
    if not os.path.exists(os.path.join(out, "report.tsv")):
        return ["corpus_curation: no report was written"]
    docs = open(os.path.join(out, "documents.path")).read().strip()
    oracle = open(os.path.join(out, "oracle.sql")).read()
    files = sorted(f for f in os.listdir(docs) if f.endswith(".parquet"))
    want = cached_oracle(oracle, [os.path.join(docs, f) for f in files], cache_dir)
    got = [line.split("\t") for line in
           open(os.path.join(out, "report.tsv")).read().splitlines() if line]
    if got != want:
        return [f"corpus_curation: report differs from the DuckDB oracle: "
                f"got {got[:4]}..., want {want[:4]}... ({len(got)} vs {len(want)} rows)"]
    return []


def cached_oracle(oracle, files, cache_dir):
    """The oracle's rows over these parquet files. The answer is kept under
    the hash of the oracle text and the files' bytes, so a corpus seen
    before is not recomputed."""
    h = hashlib.sha256(oracle.encode())
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    path = os.path.join(cache_dir, h.hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {max(1, min(4, os.cpu_count() or 1))}")
        paths = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{paths}])")
        rows = [[str(v) for v in row] for row in con.execute(oracle).fetchall()]
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(rows, f)
    os.replace(tmp, path)
    return rows
