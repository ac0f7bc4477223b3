package graft

/** Earlier names of the built-in rules' in-task form, kept as aliases:
  * the rules are now written once in graft.strategy.
  */
package object opt {
  type LocalStrategy = graft.strategy.StepStrategy
  type LocalMACross = graft.strategy.MACross
  val LocalMACross: graft.strategy.MACross.type = graft.strategy.MACross
  type LocalTenPercent = graft.strategy.TenPercent
  val LocalTenPercent: graft.strategy.TenPercent.type = graft.strategy.TenPercent
}
