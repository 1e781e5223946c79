"""One scaling measurement at a fixed local[N]: warmup + 3 reps, prints JSON."""

import json
import sys
import time

sys.path.insert(0, "/root/repo")

cores = int(sys.argv[1])
corpus = sys.argv[2]

from sparksketch.bloom import BloomConfig, build_bloom
from sparksketch.session import get_spark

spark = get_spark("scaling", cores=cores, shuffle_partitions=cores,
                  extra={"spark.ui.showConsoleProgress": "false"})
wp = spark.read.parquet(corpus)
n = wp.count()


def run():
    return build_bloom(wp, "url", BloomConfig(), n_shards=256, partitions=cores,
                       expected_keys=n)


state = run()  # warmup: spawns python workers, JITs codegen, warms page cache
times = []
for _ in range(3):
    t0 = time.perf_counter()
    run()
    times.append(time.perf_counter() - t0)
times.sort()
print(json.dumps({
    "cores": cores, "docs": n, "median_sec": round(times[1], 3),
    "all_sec": [round(t, 3) for t in times],
    "docs_per_sec": round(n / times[1], 1),
    "fpr_bound": state.fpr_bound(),
    "false_neg_possible": False,
    "key_count": state.key_count,
}))
spark.stop()
