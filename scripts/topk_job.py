"""spark-submit entry point: distributed epsilon-DP heavy hitters.

Mirrors `python -m mgspark spark ...` but in the --py-files packaging
required by the north_star: mgspark ships as a zip, the driver only
needs this file.

One scan of the input: the build carries one exemplar token per
surviving key, and released keys decode from those.  A pure-DP release
can add keys that are not in the data; they print as the raw key.  The
checkpoint manifest names the token column, so a checkpoint written by
a version of this script that decoded by re-scanning is refused with a
manifest-mismatch error; delete it and rerun.
"""

import sys

from pyspark.sql import SparkSession


def main() -> None:
    k = int(sys.argv[1])
    epsilon = float(sys.argv[2])
    delta = float(sys.argv[3])
    path, column = sys.argv[4], sys.argv[5]
    checkpoint = sys.argv[6] if len(sys.argv) > 6 else None

    from mgspark import dp
    from mgspark.aggregate import encode_tokens, mg_sketch_with_tokens

    spark = SparkSession.builder.appName("mgspark-topk").getOrCreate()
    df = spark.read.parquet(path)
    encoded = encode_tokens(df, column)
    state, mapping = mg_sketch_with_tokens(encoded, "key", k, token_col=column, checkpoint_dir=checkpoint)
    if delta > 0:
        released = dp.privatize_merged(state.to_dict(), k, epsilon, delta)
    else:
        released = dp.purely_privatize_merged(state.to_dict(), k, epsilon, 1 << 62)
    print(f"n={state.n} d={state.d}")
    for key, cnt in released.items():
        print(f"{mapping.get(key, key)}\t{cnt}")
    spark.stop()


if __name__ == "__main__":
    main()
