package graftbench

/** Entry point: `--workload bm25|ann-rw --seed N --seconds S
  * --trace 0|1 --work DIR --out DIR [--size tiny]`.
  *
  * Runs one workload in this JVM on Spark `local[nproc]`, then prints two
  * lines: a detail line (input hashes and properties, every end-to-end
  * value with its unit, sample counts, operations attempted and failed by
  * type) and, last, the result line with the end-to-end metrics
  * (`--trace 0`) or the per-layer metrics (`--trace 1`). Raw samples go to
  * `<out>/<workload>-seed<N>-trace<T>.json`; a traced run also writes its
  * spans to `<out>/<workload>-seed<N>-spans.jsonl`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val run = new Run(workload, seed, a("seconds").toDouble, new Tracer(trace), a("work"),
      tiny = a.get("size").contains("tiny"))
    workload match {
      case "bm25" => new Bm25(run)()
      case "ann-rw" => new AnnRw(run)()
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    run.setE2e("ok_frac", run.okFrac)

    val units = (Metrics.EndToEnd ++ Metrics.PerLayer).toMap
    def metrics(names: Seq[String], values: String => Option[Any]): Json.Raw = {
      val missing = names.filter(values(_).isEmpty)
      require(missing.isEmpty, s"$workload did not measure: ${missing.mkString(", ")}")
      Json.obj(names.map(n => n -> Json.obj("value" -> values(n).get, "unit" -> units(n))): _*)
    }
    val e2e = metrics(Metrics.EndToEnd.map(_._1), n => run.e2e.get(n).map(_.orNull))
    val ops = run.ops.map { case (name, s) =>
      name -> Json.obj("attempted" -> s.attempted, "failed" -> s.failed,
        "wrong_first_try" -> s.wrongFirstTry,
        "failed_frac" -> (s.failed + s.wrongFirstTry).toDouble / s.attempted,
        "reasons" -> s.reasons)
    }
    val detail = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> run.seconds, "trace" -> trace,
      "nproc" -> run.nproc, "input_hash" -> Inputs.sha256(run.hashes.values.toSeq),
      "hashes" -> run.hashes, "inputs" -> run.inputs, "end_to_end" -> e2e,
      "null_reasons" -> run.nullReasons,
      "samples" -> run.samples.map { case (k, v) => k -> v.size },
      "ops" -> ops, "notes" -> run.notes)
    val result = Json.obj("correct" -> run.correct, "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> (if (trace) metrics(Metrics.PerLayer.map(_._1), n => run.layer.get(n)) else e2e))

    val out = a("out")
    new java.io.File(out).mkdirs()
    val stem = s"$out/$workload-seed$seed"
    val w = new java.io.PrintWriter(s"$stem-trace${if (trace) 1 else 0}.json", "UTF-8")
    try w.println(Json.obj("detail" -> detail, "result" -> result, "samples" -> run.samples).json)
    finally w.close()
    if (trace) run.tracer.writeJsonl(s"$stem-spans.jsonl")
    println(detail.json)
    println(result.json)
    System.out.flush()
    // Spark's own stop can stall for seconds draining its event queues;
    // the run is over and all it wrote lives under --work, which the
    // caller removes, so the JVM ends here without the shutdown hooks
    Runtime.getRuntime.halt(0)
  }
}
