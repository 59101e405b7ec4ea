import contextlib, io, os, sys
os.environ.setdefault("MFDB_SHUFFLE_PARTITIONS","4")
repo = sys.argv[1]; out = sys.argv[2]  # r11: leg dump helper (checkpoint boundary suppression)
sys.path.insert(0, repo)
from modforms_db_spark.session import get_spark
from modforms_db_spark.io import clear
from modforms_db_spark.llm import dedup
spark = get_spark("dump-core-leg"); spark.sparkContext.setLogLevel("ERROR")
# Reconstruct the rep_pairs leg WITHOUT the final localCheckpoint by
# monkeypatching DataFrame.localCheckpoint to identity for this build.
from pyspark.sql.classic.dataframe import DataFrame as _CDF
orig = _CDF.localCheckpoint
_CDF.localCheckpoint = lambda self, eager=True: self
clear()  # build cold, not from the session cache
try:
    g, rp = dedup._lsh_groups_rep_pairs(spark, "/root/testdata/sf0.1")
finally:
    _CDF.localCheckpoint = orig
buf = io.StringIO()
with contextlib.redirect_stdout(buf):
    rp.explain("formatted")
with open(out, "w") as fh:
    fh.write("# rep_pairs leg (core build, checkpoints suppressed for the dump) @ sf0.1, built cold\n\n")
    fh.write(buf.getvalue())
print("wrote", out)
