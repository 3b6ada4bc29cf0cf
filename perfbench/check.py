"""Checks of graft's pipeline outputs made apart from the program.

Every check reads the benchmark's own input parquet and the `snapshot` and
`clusters` stage outputs a `Pipeline.run` round left behind, and recomputes
what they must hold with DuckDB (hashing, grouping, keeper choice) or with
the benchmark's own 5-shingle Jaccard. A failing check is returned by name.
"""

import re

import duckdb
import pyarrow as pa

RECALL_BAR = 0.99
JACCARD_BAR = 0.6
_TOKEN = re.compile(r"[a-z0-9]+")


def shingles(text, n=5):
    """5-shingle set under graft's documented tokenization: lowercase,
    maximal [a-z0-9] runs, n consecutive tokens per shingle."""
    toks = _TOKEN.findall(text.lower())
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def planted_pairs_table(pairs):
    """Planted near-dup pairs with their Jaccard, as an arrow table."""
    return pa.table({
        "a": pa.array([p[0] for p in pairs], pa.string()),
        "b": pa.array([p[1] for p in pairs], pa.string()),
        "jaccard": pa.array([jaccard(p[2], p[3]) for p in pairs], pa.float64()),
    })


class Checker:
    def __init__(self, corpus_dir, families_path, pairs, tmp_dir):
        self.db = duckdb.connect()
        self.db.execute(f"SET temp_directory='{tmp_dir}'")
        self.db.execute("SET threads=2")
        self.db.execute("SET memory_limit='1GB'")
        self.db.execute(f"""CREATE TABLE valid AS
            SELECT repo || '/' || path AS rkey, sha256(content) AS sha
            FROM read_parquet('{corpus_dir}/*.parquet')
            WHERE content IS NOT NULL AND path IS NOT NULL AND length(path) > 0""")
        self.db.execute(f"""CREATE TABLE dup AS
            SELECT rkey, sha FROM valid WHERE sha IN
              (SELECT sha FROM valid GROUP BY sha HAVING count(*) > 1)""")
        self.db.execute(
            f"CREATE TABLE fam AS SELECT * FROM read_parquet('{families_path}')")
        planted = planted_pairs_table(pairs)
        self.db.register("planted_arrow", planted)
        self.db.execute("CREATE TABLE planted AS SELECT * FROM planted_arrow")
        self.n_recall_pairs = self.one(
            f"SELECT count(*) FROM planted WHERE jaccard >= {JACCARD_BAR}")

    def one(self, sql):
        return self.db.execute(sql).fetchone()[0]

    def check_round(self, run_dir):
        """Names of the checks that fail on one round's outputs."""
        db = self.db
        db.execute(f"CREATE OR REPLACE VIEW snap AS SELECT * FROM read_parquet('{run_dir}/snapshot/*.parquet')")
        db.execute(f"CREATE OR REPLACE VIEW clus AS SELECT * FROM read_parquet('{run_dir}/clusters/*.parquet')")
        bad = []

        # snapshot groups = GROUP BY sha256(content) HAVING count(*) > 1
        diff = self.one("""SELECT count(*) FROM (
            (SELECT group_id, rkey FROM snap EXCEPT ALL SELECT sha, rkey FROM dup)
            UNION ALL
            (SELECT sha, rkey FROM dup EXCEPT ALL SELECT group_id, rkey FROM snap))""")
        if diff:
            bad.append("snapshot.groups_equal_duckdb")
        # every row's group id is the sha256 of its content
        wrong = self.one("""SELECT count(*) FROM snap s LEFT JOIN valid v USING (rkey)
                            WHERE v.sha IS NULL OR s.group_id <> v.sha
                               OR s.rkey <> s.repo || '/' || s.path""")
        if wrong:
            bad.append("snapshot.group_id_is_sha256")
        # keeper = the group's minimum repo || '/' || path; others point at it
        wrong = self.one("""WITH g AS (SELECT group_id, min(rkey) AS keeper FROM snap GROUP BY group_id)
            SELECT count(*) FROM snap s JOIN g USING (group_id)
            WHERE (s.action = 'keep') <> (s.rkey = g.keeper)
               OR (s.action = 'symlink' AND s.symlink_source IS DISTINCT FROM g.keeper)
               OR s.action NOT IN ('keep', 'symlink')""")
        if wrong:
            bad.append("snapshot.keeper_is_min_key")

        # exactly one cluster row per valid input key
        n, nd = db.execute("SELECT count(*), count(DISTINCT rkey) FROM clus").fetchone()
        missing = self.one("""SELECT count(*) FROM (
            (SELECT rkey FROM valid EXCEPT SELECT rkey FROM clus)
            UNION ALL (SELECT rkey FROM clus EXCEPT SELECT rkey FROM valid))""")
        if n != nd or missing or n != self.one("SELECT count(*) FROM valid"):
            bad.append("clusters.one_row_per_valid_key")
        # one keep row per cluster, and the cluster's rep_key is that row's key
        wrong = self.one("""SELECT count(*) FROM (
            SELECT cluster_id,
                   count(*) FILTER (WHERE action = 'keep') AS keeps,
                   count(DISTINCT rep_key) AS reps,
                   min(rkey) FILTER (WHERE action = 'keep') AS keep_key,
                   min(rep_key) AS rep
            FROM clus GROUP BY cluster_id)
            WHERE keeps <> 1 OR reps <> 1 OR keep_key <> rep""")
        if wrong:
            bad.append("clusters.one_keeper_per_cluster")
        # every exact group lies inside one cluster
        wrong = self.one("""SELECT count(*) FROM (
            SELECT d.sha FROM dup d JOIN clus c USING (rkey)
            GROUP BY d.sha HAVING count(DISTINCT c.cluster_id) > 1)""")
        if wrong:
            bad.append("clusters.exact_groups_in_one_cluster")
        # recall over planted near-dup pairs at or above the Jaccard bar
        together = self.one(f"""SELECT count(*) FROM planted p
            JOIN clus ca ON ca.rkey = p.a JOIN clus cb ON cb.rkey = p.b
            WHERE p.jaccard >= {JACCARD_BAR} AND ca.cluster_id = cb.cluster_id""")
        if self.n_recall_pairs == 0 or together < RECALL_BAR * self.n_recall_pairs:
            bad.append("clusters.near_dup_recall")
        # no cluster spans two planted families
        wrong = self.one("""SELECT count(*) FROM (
            SELECT c.cluster_id FROM clus c JOIN fam f USING (rkey)
            GROUP BY c.cluster_id HAVING count(DISTINCT f.family) > 1)""")
        if wrong:
            bad.append("clusters.no_cluster_spans_two_families")
        return bad
