"""Time round-4 queries at sf0.1 vs the 10x replica, cold caches both
sides (fresh process per SF dir: pass the dir as argv[1])."""
import json, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from elastic_freight_spark.session import get_spark, load_tables

sf_dir = sys.argv[1]
names = sys.argv[2:]
spark = get_spark(app_name="time10x", extra_conf={"spark.ui.showConsoleProgress": "false"})
import __spark_entry__ as e
q = e.queries()
load_tables(spark, sf_dir)["lineitem"].count()  # warm session/catalog only
out = {}
for n in names:
    t0 = time.perf_counter()
    q[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
    out[n] = round(time.perf_counter() - t0, 2)
print(json.dumps({"sf_dir": sf_dir, "timings": out}))
spark.stop()
