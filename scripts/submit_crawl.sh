#!/usr/bin/env bash
# Run the crawl engine via spark-submit --py-files (north_rule deploy
# path). On a real cluster set MASTER (e.g. yarn / k8s://... /
# spark://host:7077), which get_spark() keeps; defaults to local[*].
#
#   MASTER=yarn scripts/submit_crawl.sh --waves 100 --wave-size 100000 \
#       --pages s3://bucket/pages --warehouse s3://bucket/warehouse
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
ZIP="$(python3 "$REPO/scripts/make_pyfiles.py")"
SPARK_SUBMIT="${SPARK_SUBMIT:-$(python3 -c 'import os, pyspark; print(os.path.join(pyspark.__path__[0], "bin", "spark-submit"))')}"
exec "$SPARK_SUBMIT" \
  --master "${MASTER:-local[*]}" \
  --py-files "$ZIP" \
  "$REPO/playwrightcrawler_spark/crawl/engine.py" "$@"
