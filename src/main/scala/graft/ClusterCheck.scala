package graft

import org.apache.spark.sql.{functions => F}

/** Independent grading for d23 (embedding dup clusters) at scales the
  * DuckDB twin cannot reach (VERDICT r16 item #3: the oracle's
  * quadratic brute-force pair join OOMs at sf3 ≈ 90 GB of
  * intermediate state — "oracle can't" must not read as "engine
  * right").
  *
  * The check grades the CLUSTER step — pair graph → connected
  * components → (cluster_id, n_members, max_member) — against
  * invariants that are each exact and cheap, given the engine's own
  * sf3 pair set (the pair step itself, Similarity.cosinePairs, is
  * DuckDB-graded at sf0.01…sf1 via d09 with the identical rounding
  * discipline, so it is the trusted input here; what sf3 uniquely
  * stresses — and what d23 adds over d09 — is the CC contraction):
  *
  *  1. EDGE CONSISTENCY (global, exact): every pair's endpoints carry
  *     the same label. A single under-merge (two components that
  *     should be one) violates this for the bridging edge.
  *  2. COVERAGE (global, exact): the ids appearing in pairs are
  *     EXACTLY the ids appearing in labels — no clustered singleton,
  *     no dropped member.
  *  3. LABEL = COMPONENT MIN (global, exact): each cluster's id is
  *     the minimum member id — the keeper policy d22/d23 document.
  *  4. CONNECTIVITY (sampled, exact): an over-merge (one reported
  *     cluster that is really two components) passes 1–3, so for the
  *     N largest + N hash-sampled clusters, the pair set restricted
  *     to that cluster's members must form ONE connected component —
  *     verified by an independent BFS-style label propagation on the
  *     (bounded) member subgraph, not by re-running ccStars.
  *
  * Also emits a partitioning-insensitive checksum of the full label
  * set (sum + xor of xxhash64(id, label)), so a second run at a
  * different local[N]/shuffle-partition config cross-grades
  * determinism at sf3 the way partition_invariance.json does at
  * sf0.01: run twice, compare checksums.
  *
  * Usage: graft.ClusterCheck <sfDir> <outJson> [sampleClusters]
  */
object ClusterCheck {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.ClusterCheck <sfDir> <outJson> [sampleClusters]")
    val (sfDir, outPath) = (args(0), args(1))
    val nSample = if (args.length > 2) args(2).toInt else 50
    val spark = Engine.session("graft-cluster-check", Engine.cores("32"))

    // d23's exact pair plan (TextSim.scala d23_embed_clusters): same
    // threshold/rounding discipline, then the same CC machinery.
    val emb = sources.TableCatalog(spark, sfDir).embeddings
    val pairs = similarity.Similarity
      .cosinePairs(emb, "vec_id", "embedding", threshold = 0.449999)
      .withColumn("sim", F.round(F.col("sim"), 6))
      .filter(F.col("sim") >= 0.45)
      .select(F.col("a_id").cast("long"), F.col("b_id").cast("long"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val (labels0, rounds) = operators.Dedup.ccStars(pairs)
    val labels = labels0.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)

    val nPairs = pairs.count()
    val nLabeled = labels.count()

    // 1. edge consistency
    val la = labels.select(F.col("id").as("a_id"), F.col("label").as("la"))
    val lb = labels.select(F.col("id").as("b_id"), F.col("label").as("lb"))
    val badEdges = pairs.join(la, "a_id").join(lb, "b_id")
      .filter(F.col("la") =!= F.col("lb")).count()

    // 2. coverage: ids(pairs) == ids(labels), both directions
    val pairIds = pairs.select(F.col("a_id").as("id"))
      .unionAll(pairs.select(F.col("b_id").as("id"))).distinct()
    val missingFromLabels = pairIds.join(labels, Seq("id"), "left_anti").count()
    val extraInLabels = labels.select("id").distinct()
      .join(pairIds, Seq("id"), "left_anti").count()

    // 3. label = min member id per cluster
    val badMin = labels.groupBy(F.col("label"))
      .agg(F.min(F.col("id")).as("mn"))
      .filter(F.col("label") =!= F.col("mn")).count()

    // 4. sampled connectivity: N largest + N hash-sampled clusters.
    // Two legs, split by a per-cluster budget (ADVICE r17: nSample
    // bounded the cluster COUNT but nothing bounded member/edge
    // counts, and a single giant near-dup cluster — exactly what
    // dedup corpora produce — could OOM the driver or quadratic-blow
    // the collected subgraph):
    //   - within budget (≤ MemberCap members AND ≤ EdgeCap restricted
    //     edges): driver-side BFS on the collected induced subgraph;
    //   - over budget: DISTRIBUTED multi-source BFS — frontier
    //     expansion by joins over the giant clusters' restricted edge
    //     set, O(diameter) rounds (near-dup clusters are dense, so
    //     the diameter is small) — still an independent algorithm,
    //     not ccStars grading itself. Nothing cluster-sized ever
    //     reaches the driver on this leg.
    val MemberCap = 100000L
    val EdgeCap = 1000000L
    val BfsRoundCap = 40
    val sizes = labels.groupBy(F.col("label")).agg(F.count(F.lit(1)).as("n"))
      .localCheckpoint(true)
    val nClusters = sizes.count()
    val top = sizes.orderBy(F.col("n").desc, F.col("label")).limit(nSample)
    val rand = sizes.orderBy(F.xxhash64(F.col("label"), F.lit("cc17"))).limit(nSample)
    val sampled = top.unionAll(rand).distinct()
    // restricted edge count per sampled cluster (labels ride the
    // a-side; invariant 1 has already verified both endpoints agree)
    import spark.implicits._
    val sampledLabels = sampled.select("label").as[Long].collect().toSet
    val inSampled = F.col("la").isin(sampledLabels.toSeq: _*)
    val edgeCounts = pairs.join(la, "a_id").filter(inSampled)
      .groupBy(F.col("la")).agg(F.count(F.lit(1)).as("e"))
      .as[(Long, Long)].collect().toMap
    val sampledSizes = sampled.as[(Long, Long)].collect().toMap
    val (smallLabels, giantLabels) = sampledLabels.partition { l =>
      sampledSizes(l) <= MemberCap && edgeCounts.getOrElse(l, 0L) <= EdgeCap
    }

    // 4a. driver BFS over the within-budget clusters' induced subgraph
    val members = labels
      .filter(F.col("label").isin(smallLabels.toSeq: _*))
      .select(F.col("id"), F.col("label")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byCluster = members.groupBy(_._2).map { case (l, m) => l -> m.map(_._1).toSet }
    val memberSet = members.map(_._1).toSet
    val memDf = memberSet.toSeq.toDF("id")
    val subEdges = pairs
      .join(F.broadcast(memDf.select(F.col("id").as("a_id"))), "a_id")
      .join(F.broadcast(memDf.select(F.col("id").as("b_id"))), "b_id")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = new scala.collection.mutable.HashMap[Long, List[Long]]()
    subEdges.foreach { case (a, b) =>
      adj(a) = b :: adj.getOrElse(a, Nil)
      adj(b) = a :: adj.getOrElse(b, Nil)
    }
    var disconnected = List.empty[Long]
    byCluster.foreach { case (label, mem) =>
      val seen = scala.collection.mutable.HashSet[Long](label)
      var frontier = List(label)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .filter(v => mem.contains(v) && seen.add(v))
      }
      if (seen.size != mem.size) disconnected ::= label
    }

    // 4b. distributed BFS over the over-budget clusters (all at once:
    // clusters are disjoint and — by invariant 1 — edges never cross
    // them, so one shared reached-set needs no per-label bookkeeping)
    var giantUnverified = List.empty[Long]
    if (giantLabels.nonEmpty) {
      val inGiant = F.col("la").isin(giantLabels.toSeq: _*)
      val gEdges = pairs.join(la, "a_id").filter(inGiant)
        .select(F.col("a_id").as("u"), F.col("b_id").as("v"))
      val gSym = gEdges.unionAll(gEdges.select(F.col("v").as("u"), F.col("u").as("v")))
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      var reached = giantLabels.toSeq.toDF("id")
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      var frontier = reached
      var round = 0
      var frontierN = frontier.count()
      while (frontierN > 0 && round < BfsRoundCap) {
        val prevReached = reached
        val prevFrontier = frontier
        frontier = gSym.join(frontier.select(F.col("id").as("u")), "u")
          .select(F.col("v").as("id")).distinct()
          .join(reached, Seq("id"), "left_anti")
          .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        reached = reached.unionAll(frontier)
          .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpointed(prevReached)
        org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpointed(prevFrontier)
        frontierN = frontier.count()
        round += 1
      }
      val reachedPerLabel = reached.join(labels, "id")
        .groupBy(F.col("label")).agg(F.count(F.lit(1)).as("r"))
        .as[(Long, Long)].collect().toMap
      giantLabels.foreach { l =>
        val r = reachedPerLabel.getOrElse(l, 0L)
        if (r < sampledSizes(l)) {
          // round cap hit with growth still possible → unverified
          // (recorded, not failed); converged short → disconnected
          if (frontierN > 0) giantUnverified ::= l else disconnected ::= l
        }
      }
    }

    // order/partitioning-insensitive label-set fingerprint: sum and
    // xor are both commutative-associative over the row hashes; the
    // sum runs in DECIMAL (a long sum of 64-bit hashes overflows ANSI)
    val checksum = labels
      .agg(F.sum(F.xxhash64(F.col("id"), F.col("label")).cast("decimal(38,0)")).as("s"),
        F.expr("bit_xor(xxhash64(id, label))").as("x"))
      .head()
    val pass = badEdges == 0 && missingFromLabels == 0 && extraInLabels == 0 &&
      badMin == 0 && disconnected.isEmpty
    val json =
      s"""{"metric":"d23_cluster_invariants","sf_dir":"$sfDir",
         |"n_pairs":$nPairs,"n_labeled_ids":$nLabeled,"n_clusters":$nClusters,
         |"cc_rounds":$rounds,
         |"edge_consistency_violations":$badEdges,
         |"coverage_missing_from_labels":$missingFromLabels,
         |"coverage_extra_in_labels":$extraInLabels,
         |"label_not_component_min":$badMin,
         |"driver_budget":{"member_cap":$MemberCap,"edge_cap":$EdgeCap,"bfs_round_cap":$BfsRoundCap},
         |"sampled_clusters_checked_driver":${byCluster.size},
         |"sampled_member_ids":${memberSet.size},
         |"sampled_subgraph_edges":${subEdges.length},
         |"sampled_clusters_checked_distributed":${giantLabels.size},
         |"distributed_unverified_at_round_cap":[${giantUnverified.sorted.mkString(",")}],
         |"disconnected_sampled_clusters":[${disconnected.sorted.mkString(",")}],
         |"label_checksum_sum":"${checksum.get(0)}",
         |"label_checksum_xor":${checksum.getLong(1)},
         |"pass":$pass,
         |"note":"pair step (cosinePairs + rounding) is the d09 plan, DuckDB-graded at sf0.01-sf1; this artifact independently grades the CC/cluster step at a scale the quadratic DuckDB twin cannot reach. Connectivity: clusters within the driver budget get a driver-side BFS on the collected induced subgraph; over-budget clusters get a distributed multi-source BFS over their restricted edge set (O(diameter) join rounds, round-capped, unverified-at-cap recorded rather than failed) — neither leg re-runs ccStars. Run twice at different local[N]/partition configs and compare label_checksum_* for the determinism leg."}"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
