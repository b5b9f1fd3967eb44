# Container bring-up for the scheduler daemon — the same three-stage
# shape as the reference image (/root/reference/Dockerfile:1 builder →
# test → main), re-expressed for a Spark application: the runtime base
# is a stock Apache Spark image, the build stage compiles against THAT
# image's /opt/spark/jars (so build and runtime can never skew), and
# the test stage gates the image on the self-contained suites.
#
#   docker build -t graft-ark .
#   docker compose up -d        # or: docker run -e ARK_SOURCE=ApiIncremental \
#                               #       -v ./data:/graft/data graft-ark
#
# NOTE: this repository's build environment has no network egress, so
# the image is not built or published from here; the file is the
# documented one-command bring-up for any networked host. Pin
# SPARK_IMAGE to the tag matching your cluster's Spark 4.1 / Scala
# 2.13 / Java 17 distribution.
ARG SPARK_IMAGE=apache/spark:4.1.2-scala2.13-java17-ubuntu

FROM ${SPARK_IMAGE} AS spark

FROM sbtscala/scala-sbt:eclipse-temurin-17.0.15_6_1.11.2_2.13.16 AS builder

# Compile against the runtime image's own Spark jars (build.sbt reads
# them as the unmanaged classpath at /opt/spark/jars — same contract
# as the zero-egress dev environment).
COPY --from=spark /opt/spark/jars /opt/spark/jars

WORKDIR /graft
COPY build.sbt .
COPY project/build.properties project/
COPY src/ src/

RUN sbt -batch package

# Gate the image on the suites that carry their own fixtures (the ark
# format/scheduler/URL contract, custom expressions, Bloom/property
# laws, streaming state). The full 216-test battery additionally needs
# the generated /root/testdata parquet — run it outside the image
# build: sbt test.
FROM builder AS test
RUN sbt -batch "testOnly graft.ark.* graft.functions.* \
  graft.ops.BloomSpec graft.ops.PropertySpec \
  graft.ops.UpdateMarkerSpec \
  graft.streaming.EventStreamSpec"

FROM ${SPARK_IMAGE} AS main

WORKDIR /graft
COPY --from=builder \
  /graft/target/scala-2.13/arkinvestapirustdataspark_2.13-0.1.0.jar \
  app.jar

# The daemon reads the reference's environment contract (ARK_SOURCE,
# STARTUP_* gates — graft.ark.Tickers/Scheduler) and writes holdings
# under ./data, mirrored by the compose volume.
ENV ARK_SOURCE=ApiIncremental

CMD ["/opt/spark/bin/spark-submit", \
  "--class", "graft.ark.Main", \
  "--master", "local[*]", \
  "--conf", "spark.sql.session.timeZone=UTC", \
  "--conf", "spark.sql.ansi.enabled=false", \
  "--conf", "spark.sql.legacy.parquet.nanosAsLong=true", \
  "app.jar"]
